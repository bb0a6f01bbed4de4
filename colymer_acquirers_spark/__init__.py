"""colymer_acquirers_spark — a PySpark-native URL-frontier crawl engine.

A from-scratch re-expression of the query/data-processing capabilities of the
reference crawl scheduler (touuki/colymer-acquirers) as idiomatic PySpark:
DataFrame/SQL plans with the frozen canonicalize/parse/envelope rules as JVM
column expressions (their pandas versions are the test oracle), window-ranked
politeness, salted-bloom URL-seen sharding, and round-checkpointed resumable
crawl loops.

Reference semantics are documented per-module with `file:line` cites into
`/root/reference` (studied for behavior only; no code copied).
"""

__version__ = "0.1.0"
