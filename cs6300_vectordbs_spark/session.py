"""SparkSession builder with scale-aware defaults.

Local testing runs on local[N] but every conf here is chosen to also be
the right default on a large cluster: AQE (runtime re-plan, skew-join
splitting, shuffle coalescing), Arrow for the few Pandas-UDF paths, and
a broadcast threshold big enough that dimension tables and query
batches broadcast instead of shuffling the corpus.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "cs6300-vectordbs-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores. Shuffle
    partitions default to 2x parallelism locally; on a real cluster AQE
    coalescing makes the static number mostly irrelevant.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(str(cpus)), 8)
        except ValueError:
            shuffle_partitions = 32

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # AQE: runtime plan fixes — shuffle coalesce, skew-join split,
        # dynamic broadcast conversion. Essential at 100 TB, harmless at sf0.001.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Deterministic event-time semantics: the NTZ→LTZ cast in
        # io.normalize_ts and all date_trunc/window math run in UTC, so
        # wall-clock values round-trip and match the DuckDB oracles.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow transfer for the (rare) pandas-UDF paths (embedding stage,
        # multimodal decode) — batch columnar, not row pickling.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Query batches and dimension tables are small; broadcast them
        # rather than shuffling the big fact/corpus side.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # HotSpot refuses to JIT-compile methods over 8000 bytecodes
        # (DontCompileHugeMethods, on by default) — and this engine's
        # statically-unrolled vector chains (functions/vector.py)
        # routinely codegen into single methods past that limit when
        # they land in a Filter/Join consume path, which then runs
        # INTERPRETED. Measured r09 on the IVF near-dup self-join at
        # sf0.1: 4.4 s -> 1.0 s from this flag alone (jstack showed the
        # hot frame stuck in the un-JIT-ed GeneratedIterator;
        # OPTIMIZATION_r09.md). Applied to the driver (the only JVM in
        # local mode) and executors (the same generated code runs there
        # on a cluster). A full-bench flag-on/flag-off A/B was planned
        # in r10, but no result of it was recorded, so r09's stage
        # measurement is the only evidence; SPARK_GRAFT_JIT_HUGE_METHODS=0
        # builds the off arm of such an A/B.
        #
        # The flag lifts only that 8,000-bytecode cap. A method can
        # still be too big for the compilers themselves: the exact JVM
        # top-k's scoring method (~51k bytecodes: cross join, pushed
        # `sim IS NOT NULL`, projection) bails out of C1 ("out of
        # virtual registers in LIR generator") and C2 ("too many nodes
        # matching instructions"), is marked not-compilable at both
        # tiers and stays interpreted — why operators/search.py no
        # longer picks that plan by size.
        #
        # DEPLOYMENT CAVEAT (r09 ADVICE): driver.extraJavaOptions set
        # through SparkConf only takes effect when PySpark itself
        # launches the JVM (this in-process builder). Under
        # spark-submit (client mode) or against an already-running
        # session it is silently ignored — pass it there via
        # --driver-java-options or spark-defaults.conf. _warn_if_jit_
        # flag_missing() below reads the live JVM's RuntimeMXBean and
        # warns when the expectation and reality diverge.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:-DontCompileHugeMethods",
        )
        .config(
            "spark.executor.extraJavaOptions",
            "-XX:-DontCompileHugeMethods",
        )
        .config("spark.ui.enabled", "false")
    )
    if os.environ.get("SPARK_GRAFT_JIT_HUGE_METHODS", "1") == "0":
        # A/B toggle: build the session WITHOUT the JIT flag (the off
        # arm of a flag-on/flag-off bench comparison).
        builder = builder.config(
            "spark.driver.extraJavaOptions", ""
        ).config("spark.executor.extraJavaOptions", "")
    spark = builder.getOrCreate()
    _warn_if_jit_flag_missing(spark)
    return spark


_JIT_FLAG_CHECKED = False


def _warn_if_jit_flag_missing(spark: SparkSession) -> None:
    """One-time startup check (r09 ADVICE): confirm the live driver JVM
    actually received -XX:-DontCompileHugeMethods. getOrCreate() may
    have returned a pre-existing session, and spark-submit ignores
    SparkConf-set driver JVM options — in both cases the measured JIT
    win silently disappears; a warning makes that visible."""
    global _JIT_FLAG_CHECKED
    if _JIT_FLAG_CHECKED:
        return
    _JIT_FLAG_CHECKED = True
    if os.environ.get("SPARK_GRAFT_JIT_HUGE_METHODS", "1") == "0":
        return  # deliberately off (A/B arm) — nothing to warn about
    try:
        args = (
            spark._jvm.java.lang.management.ManagementFactory
            .getRuntimeMXBean().getInputArguments()
        )
        if "-XX:-DontCompileHugeMethods" not in [str(a) for a in args]:
            import warnings

            warnings.warn(
                "driver JVM is missing -XX:-DontCompileHugeMethods "
                "(pre-existing session or spark-submit ignored "
                "SparkConf driver options); large codegen'd vector "
                "kernels will run interpreted — pass the flag via "
                "--driver-java-options or spark-defaults.conf",
                stacklevel=3,
            )
    except Exception:  # noqa: BLE001 — diagnostics must never break startup
        pass
