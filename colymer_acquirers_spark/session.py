"""SparkSession factory tuned for the crawl engine.

Local-mode testing runs on ``local[N]``; production is ``spark-submit
--py-files`` on a multi-executor cluster. All scale-sensitive knobs are
centralized here so the bench harness can vary parallelism (local[8] vs
local[32]) without touching plan code.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "colymer_acquirers_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Defaults chosen for scale:
    - AQE on (runtime coalescing + skew-join splitting for hot hosts,
      the engine's analog of the reference's single-threaded politeness
      serialization never becoming a hotspot — SURVEY.md §4.2).
    - Arrow on (the Python-side transforms — mapInPandas / applyInPandas —
      run over Arrow batches).
    - shuffle partitions sized to the core count, not the 200 default.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None and os.environ.get("SPARK_GRAFT_SHUFFLE"):
        # pin the partition count across parallelism levels (controlled
        # scaling experiments: identical plans, only core count varies)
        shuffle_partitions = int(os.environ["SPARK_GRAFT_SHUFFLE"])
    if shuffle_partitions is None:
        # local[N] -> N; a real cluster master string keeps 2x cores heuristic
        try:
            n = int(master.split("[")[1].rstrip("]*")) if "[" in master else 64
        except ValueError:
            n = 64
        shuffle_partitions = max(n, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # The default 100-entry generated-code cache thrashes under the
        # engine's plan volume (one crawl emits ~450 codegen units), and a
        # cache miss costs janino compilation PLUS later C2 JIT of the new
        # class — measured at ~50% of all crawl JVM CPU. Round plans are
        # deliberately literal-free (plans/round.py __round, ranking.py
        # offsets join) so identical source recurs every round; this cache
        # size makes those recurrences free. Static conf: must be set at
        # session creation.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        # The engine controls ordering and overflow explicitly; ANSI's
        # throw-on-element_at/overflow semantics are disabled so plans
        # behave identically across Spark 3.x/4.x deployments.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    # Production Iceberg catalog, one flag, no code change (north_rule:
    # "over Iceberg tables"): SPARK_GRAFT_ICEBERG="<catalog>=<warehouse>"
    # (e.g. "ice=s3://bucket/warehouse" or a local path) wires the Iceberg
    # SQL extensions + a hadoop-type SparkCatalog at session creation.
    # sources/tables.py then routes every <catalog>.db.table identifier
    # through writeTo/MERGE automatically (_is_catalog_table). Requires the
    # iceberg-spark-runtime jar on the classpath (add via
    # SPARK_GRAFT_CONF="spark.jars.packages=org.apache.iceberg:..." on a
    # real deployment); tests/test_tables.py gates its catalog round-trip
    # on the jar's presence, so the same tree runs in this jar-less sandbox
    # and on a production cluster.
    ice = os.environ.get("SPARK_GRAFT_ICEBERG", "")
    if "=" in ice:
        cat, warehouse = ice.split("=", 1)
        builder = (
            builder.config(
                "spark.sql.extensions",
                "org.apache.iceberg.spark.extensions."
                "IcebergSparkSessionExtensions",
            )
            .config(
                f"spark.sql.catalog.{cat}",
                "org.apache.iceberg.spark.SparkCatalog",
            )
            .config(f"spark.sql.catalog.{cat}.type", "hadoop")
            .config(f"spark.sql.catalog.{cat}.warehouse", warehouse)
        )
    # generic conf override hook for controlled experiments, e.g.
    # SPARK_GRAFT_CONF="spark.sql.adaptive.coalescePartitions.enabled=false"
    for pair in os.environ.get("SPARK_GRAFT_CONF", "").split(";"):
        if "=" in pair:
            k, v = pair.split("=", 1)
            builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # the module-level plan-fragment caches hold py4j expression handles;
    # drop them if this session runs on a DIFFERENT JVM gateway than the
    # one they were built against (gateway restart / first build after a
    # relaunch) — see fragments.py (VERDICT r7 #4)
    from colymer_acquirers_spark import fragments

    fragments.invalidate_if_new_gateway(spark.sparkContext._gateway)
    return spark
