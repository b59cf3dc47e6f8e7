package graft

import org.apache.spark.sql.SparkSession

import graft.io.LocalFs

/** The one way a `main` builds its session: [[local]] applies [[conf]],
  * which is [[tune]]'s plan tunings and local filesystem plus the
  * settings every local run of the engine shares (Bench, Verify, Dev and
  * the test session; cdcbench's harness applies [[tune]] itself). Each
  * setting and its reason:
  *
  *  - `spark.sql.shuffle.partitions = cpus`: one post-shuffle partition
  *    per local core (AQE coalesces from there).
  *  - `spark.ui.enabled = false`, `spark.sql.session.timeZone = UTC`.
  *  - `spark.sql.legacy.parquet.nanosAsLong = true`: events.parquet has
  *    carried TIMESTAMP(NANOS), unsupported by Spark 4 unless read as raw
  *    nanos (`Tables.events` converts to epoch millis).
  *  - `spark.sql.adaptive.enabled = true`.
  *  - `spark.sql.codegen.cache.maxEntries = 5000`: static conf, default
  *    100. The query surface compiles far more whole-stage-codegen units
  *    than that across warmup and measured passes, and cache thrash
  *    re-Janinos every stage (measured 5× total-time regression when the
  *    surface outgrew the default).
  *  - `spark.cleaner.periodicGC.interval = 30s`: Spark's ContextCleaner
  *    releases shuffle files / broadcasts only when the DRIVER GCs their
  *    references — under a large heap the JVM may not GC for the whole
  *    run, so state from every prior query accumulates (measured at the
  *    10× probe scale: q76 23 s → 81 s → 112 s across identical passes;
  *    stable 8 s once the cleaner runs). A 30 s periodic GC bounds the
  *    accumulation at negligible pause cost; the same reasoning applies
  *    to any long-running driver (see README cluster notes).
  *
  * Driver memory is NOT a session setting: in local mode the driver JVM
  * is already running when the builder runs, so the heap comes from the
  * launching JVM's options (`SPARK_DRIVER_MEM` in build.sbt).
  *
  * [[tune]]'s tunings change PLANS, never results — each is an
  * optimizer/AQE knob with a measured rationale:
  *
  *  - `InferFiltersFromGenerate` excluded: the rule copies a
  *    generator's input into a `size(...) > 0` filter, and predicate
  *    pushdown then sinks that filter into the SCAN — for the engine's
  *    explode-over-computed-expression pipelines (winnow fingerprints,
  *    char-gram profiles, shingles) the expensive per-document walk
  *    then runs a SECOND time, serially, in the single scan task
  *    below `spread`'s round-robin exchange. JobProfile (round 11):
  *    q211's pre-spread stage 270 ms → 44 ms, whole query 1.4 s →
  *    0.7 s. The rule's upside (skipping empty-array rows early) only
  *    pays when the generator input is a STORED column, which the
  *    engine's hot paths never explode.
  *
  *  - AQE `coalescePartitions.minPartitionSize` 1 MB → 64 KB: AQE
  *    coalesces post-shuffle partitions by BYTE size, and the
  *    posting-list/pair stages are CPU-dense at tiny byte volumes
  *    (sub-µs-per-byte walks): at sf0.1 the q211 pair walk coalesced
  *    to ONE task (91 k rows ≈ 1.6 MB) and serialized 360-440 ms of
  *    CPU. 64 KB keeps tiny-byte CPU-dense stages at local[32]
  *    parallelism; at cluster scale partitions dwarf both floors, so
  *    the knob is inert there.
  *
  * [[tune]] also applies [[LocalFiles]]: `spark.hadoop.fs.file.impl` and
  * `spark.hadoop.fs.AbstractFileSystem.file.impl` name the in-process
  * local filesystem of [[graft.io.LocalFs]]. Without the native-hadoop
  * library, Hadoop's stock one forks a `chmod` for every file and dir it
  * creates and a `readlink` twice per file on every `FileContext`
  * rename, ~3 ms each. On a 4-vCPU host, a JFR recording of one cdcbench
  * `cdc-backfill` run counted 2,705 of them (541 per drain), about ten
  * in each offset-log and commit-log write: `stream.wal_ms_p50` and
  * `stream.commit_ms_p50` went from 42 and 38 ms to 2 ms each. The same
  * files, modes, checksums and renames happen, minus the forks.
  */
object Sessions {

  val ExcludedOptimizerRules: String =
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"

  /** The plan tunings [[tune]] applies. */
  val Tunings: Seq[(String, String)] = Seq(
    "spark.sql.optimizer.excludedRules" -> ExcludedOptimizerRules,
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "65536")

  /** The Hadoop filesystem settings [[tune]] applies. */
  val LocalFiles: Seq[(String, String)] =
    LocalFs.HadoopConf.map { case (k, v) => s"spark.hadoop.$k" -> v }

  /** Apply the shared tunings and [[LocalFiles]] to a session builder. */
  def tune(b: SparkSession.Builder): SparkSession.Builder =
    (Tunings ++ LocalFiles).foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }

  /** Every setting [[local]] applies, in order: master, [[Tunings]],
    * [[LocalFiles]], the shared settings, then `extra` (a later key
    * overrides an earlier one). */
  def conf(cpus: Int, extra: (String, String)*): Seq[(String, String)] =
    Seq("spark.master" -> s"local[$cpus]") ++ Tunings ++ LocalFiles ++ Seq(
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.ui.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.codegen.cache.maxEntries" -> "5000",
      "spark.cleaner.periodicGC.interval" -> "30s") ++ extra

  /** A `local[cpus]` session built from [[conf]]. */
  def local(cpus: Int, extra: (String, String)*): SparkSession =
    conf(cpus, extra: _*).foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()

  /** Local cores for a `main`: `SPARK_GRAFT_CPUS`, default 32. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
}
