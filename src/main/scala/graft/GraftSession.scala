package graft

import org.apache.spark.sql.SparkSession

/** The one place graft session settings live. Every main (Bench,
  * Verify, ProfileQueries, PlanDump, Plans, StateProbe), the shared
  * test session and the test-side probes build their session here, so
  * the oracle run, the timing run and the plan contracts see the same
  * config; only the core count and the log level differ between
  * them. `SessionConfigSpec` fails if a session is built elsewhere.
  */
object GraftSession {

  /** Core count from `SPARK_GRAFT_CPUS`, `default` when unset. */
  def envCpus(default: Int = 4): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(default)

  def local(cpus: Int, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // scale-adaptive shuffles: AQE starts every exchange at
      // SPARK_GRAFT_INIT_PARTS partitions and coalesces down to its
      // advisory size, so a fixed `cpus`-sized session no longer pins
      // per-task shuffle volume to corpus/32 at probe scales — the
      // documented production sizing discipline, applied through AQE
      // instead of per-query repartitions. Defaults to `cpus`, which
      // is Spark's own default (the shuffle-partition count): no
      // behavior change at the driver's sf0.1; the scale probes set
      // it explicitly.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        sys.env.getOrElse("SPARK_GRAFT_INIT_PARTS", cpus.toString))
      // generated-class cache (Janino output, keyed on source text):
      // the default 100-entry LRU thrashes under a 250+-query sweep —
      // measured 1173 vs 891 compilations over a 116-query subset at
      // 100 vs 2000 entries (~24% of compiles were LRU re-compiles of
      // code an earlier query already built, plus their lost JIT
      // warmup). Scale-neutral: caches compiled CLASSES, never data or
      // results; a long-lived production driver benefits identically.
      .config("spark.sql.codegen.cache.maxEntries", 2000)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // SPARK_GRAFT_STATE_PROVIDER=rocksdb switches streaming state to
    // the RocksDB provider (off-heap/on-disk state, changelog
    // checkpoints) — the documented production setting once state
    // passes ~10M rows per executor (PLANS.md "streaming state at
    // scale"): the default HDFSBacked provider holds every state row
    // on the executor heap and the factor-1000 session probe (10M
    // users) dies there with CANNOT_LOAD_STATE_STORE. Default
    // unchanged — small-scale state fits the heap and HDFSBacked is
    // faster there.
    if (sys.env.get("SPARK_GRAFT_STATE_PROVIDER").contains("rocksdb"))
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
