"""The declared query suite: every operator from SURVEY §2 plus the
LLM-pipeline extensions, each a Spark builder with a DuckDB oracle.

A query registers one way: ``@q(name, oracle_sql)`` on its builder, in
the module named by its name prefix (``relational`` for ``q*``, then
``text``, ``dedup``, ``embedding``, ``multimodal``, ``lake``, ``stream``
and ``pipeline``; see ``suite``).  ``QUERIES`` and ``ORACLES`` hold them
all."""

from pdtable_spark.queries.suite import ORACLES, QUERIES  # noqa: F401
