package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.SessionBridge

/** Session bootstrap tuned for the graft engine.
  *
  * Scale notes (100 TB / 1000-executor design):
  *   - AQE on: runtime coalescing of shuffle partitions, skew-join
  *     splitting, and dynamic broadcast-join demotion all matter far more
  *     at cluster scale than in local[32].
  *   - `spark.sql.shuffle.partitions` is a *local* default (32); on a real
  *     cluster AQE's coalescing makes the initial number mostly a ceiling —
  *     set it to ~2-3x total cores there.
  *   - Timezone pinned to UTC so timestamp semantics match the DuckDB
  *     oracle and are cluster-invariant.
  *
  * This is the ONE place graft sets session conf. Build-time policy
  * lives in [[configure]]: Bench and Verify ([[fromEnv]]), the CLI
  * ([[Args]]) and [[local]] all build through it. A setting one plan
  * needs (AQE off for one argmax, a forced salt floor, a pinned shuffle
  * width) goes only through [[withConf]], which applies it to a clone
  * of the session. Apart from SparkEntry.tbl's nanosAsLong hook for
  * sessions handed to SparkEntry.entry, nothing writes a live session's
  * `spark.conf`, so a library user's session — and every query running
  * on it — keeps the values it was built with.
  */
object GraftSession {

  // bucketed tables (Writers.writeBucketed) need a writable warehouse;
  // keep it out of the working tree. createTempDirectory gives an
  // UNPREDICTABLE 0700 path — a fixed /tmp name (even per-user) could be
  // pre-created/symlinked by another local user before first use
  // (squatting). One dir per JVM (lazy val): the same process's sessions
  // share a catalog, so they must share the warehouse; separate
  // processes get separate dirs, which is the isolation we want. Real
  // deployments override this with a durable cluster path.
  private lazy val defaultWarehouse: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_warehouse_")
    // best-effort cleanup at JVM exit — without it every test/bench run
    // leaves a full copy of its bucketed tables in /tmp, unbounded
    // across runs (the price of the unpredictable per-process path)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try {
        java.nio.file.Files.walk(dir)
          .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
      } catch { case _: Throwable => () }))
    dir.toString
  }

  /** Apply graft's standard configuration to a builder. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // Spark's default 10 MB, stated explicitly because it is a DESIGN
    // choice here, not an omission: the threshold compares COMPRESSED
    // sizes (file stats / shuffle bytes), and columnar data routinely
    // deserializes 20-60x larger — a full sf10 bench sweep at a 64 MB
    // threshold built a 3.1 GiB broadcast from a 51 MB parquet vector
    // table and OOM'd the driver broadcasting a bigram LM model whose
    // shuffle bytes looked small. 10 MB bounds the worst-case
    // deserialized build on a 1000-executor cluster; genuinely small
    // dimensions still broadcast, and operators that KNOW a side is
    // bounded (changes-derived frames, query batches, probe models)
    // carry explicit broadcast() hints which bypass the threshold.
    .config("spark.sql.autoBroadcastJoinThreshold", (10L << 20).toString)
    // AQE's threshold is deliberately HIGHER than the static one: the
    // static planner sees parquet file stats, where dictionary+RLE
    // columns deserialize 20-60x (the 3.1 GiB broadcast above was a
    // 51 MB file), but AQE measures ACTUAL shuffle partition bytes —
    // row-serialized, lightly compressed, a 2-5x blowup bound — so a
    // 64 MB runtime-measured build stays a few hundred MB in memory.
    // Mid-size derived frames (LSH candidate/signature joins) keep
    // their runtime broadcast without re-opening the file-stat trap.
    .config("spark.sql.adaptive.autoBroadcastJoinThreshold", (64L << 20).toString)
    .config("spark.sql.parquet.aggregatePushdown", "true")
    .config("spark.sql.parquet.filterPushdown", "true")
    // keep moderate IN lists as real In predicates at the parquet
    // reader (default 10 rewrites them to a min..max range — useless
    // against uniform hash keys); the ingest sink's pruned anti-join
    // pushes batch-hash membership into the corpus scan and needs the
    // list to survive to row-group stats/bloom evaluation. CAPPED at
    // 100: Spark lowers a pushed In to a LEFT-DEEP FilterApi.or chain
    // whose evaluation recurses once per value — a 1250-value list
    // overflowed an executor stack mid-scan — and bloom skipping is
    // only selective for small probe sets anyway (row-group false-hit
    // probability is 1-(1-fpp)^K)
    .config("spark.sql.parquet.pushdown.inFilterThreshold", "100")
    // parquet TIMESTAMP(NANOS) columns (which Spark otherwise refuses)
    // read as their raw int64 nanos; callers that need timestamps
    // convert, as SparkEntry.tbl does for events.ts
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.warehouse.dir", defaultWarehouse)
    .config("spark.ui.enabled", "false")

  /** `df`'s analyzed plan re-hosted on a clone of its session, with
    * `settings` applied to the clone only: frames derived from the
    * result optimize, plan and execute under them, while the session
    * and every query on it keep their values. The clone copies the
    * runtime conf, temp views and functions and shares the
    * SparkContext and the cache. */
  def withConf(df: DataFrame, settings: (String, String)*): DataFrame = {
    val clone = SessionBridge.cloneSession(df.sparkSession)
    settings.foreach { case (k, v) => clone.conf.set(k, v) }
    SessionBridge.ofRows(clone, df.queryExecution.analyzed)
  }

  /** Bench's and Verify's session: `local[SPARK_GRAFT_CPUS]` (default
    * `defaultCpus`) unless `SPARK_GRAFT_MASTER` names another master
    * (e.g. `local-cluster[2,16,8192]`: separate executor JVMs, with
    * `SPARK_GRAFT_JARS` pointing at `sbt package` output);
    * `SPARK_GRAFT_CHECKPOINT_DIR` puts every [[Materialize.once]] site
    * on the reliable checkpoint arm. The shuffle width defaults to the
    * CPU count. */
  def fromEnv(tag: String, defaultCpus: Int,
      shufflePartitions: Option[String]): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val b = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", shufflePartitions.getOrElse(cpus))
    sys.env.get("SPARK_GRAFT_JARS").filter(_.nonEmpty).foreach(b.config("spark.jars", _))
    sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR").filter(_.nonEmpty).foreach { d =>
      b.config(Materialize.DirKey, d)
      System.err.println(s"[$tag] reliable checkpoints -> $d")
    }
    val spark = configure(b).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Local session for tests / CLI use. */
  def local(threads: Int = 4, shufflePartitions: Int = 32): SparkSession = {
    val s = configure(
      SparkSession.builder()
        .master(s"local[$threads]")
        .appName("graft")
        .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
