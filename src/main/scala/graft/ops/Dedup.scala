package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Deduplication operators for the training-data pipeline surface: exact,
  * n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine (the latter in
  * [[Ann]]). All are declarative DataFrame compositions — shuffles only on
  * the natural keys (fingerprint / shingle / band / bucket), partial
  * aggregation everywhere, no driver-side loops — so each survives a
  * 100 TB corpus on a real cluster.
  *
  * Hashing is `md5` throughout: bit-identical in Spark and DuckDB, which
  * makes even the MinHash signatures oracle-verifiable in ANSI SQL
  * (a lexicographic min over hex strings is a uniform min-hash).
  * Intermediates and the session-pinned shingle/pair cores materialize
  * through [[Materialize]].
  */
object Dedup {

  /** Release the query scope of [[Materialize]]: the name cdcbench's
    * board harness calls between queries. */
  def unpersistIntermediates(spark: org.apache.spark.sql.SparkSession): Unit =
    Materialize.releaseQuery(spark)

  /** Spread a narrow input across the session's cores before a
    * compute-heavy scalar stage. The fused signature expressions removed
    * the explode→groupBy shuffle from the LSH family — which also removed
    * the repartitioning that shuffle incidentally provided, so a corpus
    * arriving as fewer splits than cores (the bench's single 600 KB
    * parquet; any small file) would hash single-threaded (measured 33 s vs
    * ~3 s at sf0.1). At real scale the input has ≫ cores splits and this
    * is a NO-OP — the round-robin shuffle only fires for under-split
    * inputs, where it moves less data than the explode shuffle it
    * replaced ever did. */
  private[graft] def spread(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df // micro-batch partitioning is the source's
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    // Split-count estimate from SCAN METADATA when every leaf is a file
    // relation: ceil(bytes / maxPartitionBytes) per leaf — the same
    // granularity the file-split planner uses, read from the already-
    // analyzed plan. The previous df.rdd.getNumPartitions probe forced a
    // full physical-planning pass of the subtree per operator call just to
    // learn a number that file-source metadata already knows. Fallback for
    // non-file leaves (memory relations, streaming joins) keeps the exact
    // probe.
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val leaves = df.queryExecution.analyzed.collectLeaves()
    val fileSizes = leaves.map {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => Some(fs.location.sizeInBytes)
        case _ => None
      }
      case _ => None
    }
    val nParts: Long =
      if (fileSizes.nonEmpty && fileSizes.forall(_.isDefined)) {
        val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
        fileSizes.flatten.map(b => math.max(1L, (b + maxSplit - 1) / maxSplit)).sum
      } else df.rdd.getNumPartitions.toLong
    if (nParts < target) df.repartition(target) else df
  }

  /** Exact dedup via content fingerprint: one shuffle on md5(normalized
    * text). Returns (doc_id, fingerprint, canonical_id, is_dup) — the
    * classic keep-first policy (canonical = min doc_id in the group). */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val fp = docs.withColumn("fingerprint", fingerprint(col(textCol)))
    val canon = fp.groupBy("fingerprint")
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("group_size"))
    fp.select(col(idCol), col("fingerprint"))
      .join(canon, "fingerprint")
      .withColumn("is_dup", (col(idCol) =!= col("canonical_id")).cast("int"))
  }

  /** Streaming exact dedup: keep the first-arrived doc per content
    * fingerprint across micro-batches — the continuous-ingest twin of
    * [[exact]] (a training pipeline ingesting a crawl feed dedups AS data
    * arrives, not in a nightly batch). State = one fingerprint per unique
    * doc inside the watermark horizon (`dropDuplicatesWithinWatermark`
    * evicts state older than the delay, so unbounded streams don't
    * accumulate unbounded fingerprints — the standard state/recall
    * trade-off, spec-pinned in DedupStreamSpec). */
  def exactStreaming(
      docs: DataFrame,
      delay: String = "1 hour",
      tsMsCol: String = "ts_ms",
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.functions.timestamp_millis
    docs
      .withColumn("fingerprint", fingerprint(col(textCol)))
      .withColumn("eventTime", timestamp_millis(col(tsMsCol)))
      .withWatermark("eventTime", delay)
      .dropDuplicatesWithinWatermark("fingerprint")
  }

  /** Candidate pairs by shared word-n-gram shingle, with exact Jaccard.
    * Shape: explode shingles → self-join on shingle (inverted index) →
    * per-pair intersection count → Jaccard from the per-doc set sizes.
    * `jaccard_x10k = floor(1e4 * |A∩B| / |A∪B|)` keeps it integer-exact.
    *
    * Scale: the inverted-index join shuffles on the shingle — hot shingles
    * are the skew risk, which word-level n>=3 shingling plus a document
    * frequency cap (`maxDf`) bounds; AQE skew-join handles the rest. */
  def jaccardPairs(
      docs: DataFrame,
      n: Int = 3,
      minJaccardX10k: Long = 5000L,
      maxDf: Int = 1000,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val (inter, sizes) = shingleIntersections(docs, n, maxDf, idCol, textCol)
    jaccardFrom(inter, sizes, minJaccardX10k)
  }

  /** The spread, normalized, tokenized `(id, __toks)` base of a corpus —
    * the expensive query-independent prefix (normalize regex + tokenize)
    * of every shingle-family operator. Callers sweeping a parameter
    * across several arms (q366's three shingle orders) cache ONE of
    * these and derive each arm's shingling from it, instead of
    * re-running the normalize pass per arm. */
  def tokensBase(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    spread(docs.select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"), wsTokens(normalizeText(col("__text"))).as("__toks"))

  /** [[jaccardPairs]] over the SESSION-PINNED intersection core of the
    * `documents` table under `dir` — the board call sites (q16/q114/
    * q125/q157) share one shingle pass + one inverted-index self-join
    * per session through this entry point. */
  def jaccardPairsPinned(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      n: Int,
      minJaccardX10k: Long,
      maxDf: Int): DataFrame = {
    val (inter, sizes) = pinnedIntersections(spark, dir, n, maxDf)
    jaccardFrom(inter, sizes, minJaccardX10k)
  }

  private def jaccardFrom(
      inter: DataFrame, sizes: DataFrame, minJaccardX10k: Long): DataFrame =
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("set_size", "size_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("set_size", "size_b"), "id_b")
      .withColumn("jaccard_x10k",
        floor(lit(10000L) * col("n_common") / (col("size_a") + col("size_b") - col("n_common")))
          .cast("long"))
      .filter(col("jaccard_x10k") >= minJaccardX10k)
      .select("id_a", "id_b", "n_common", "size_a", "size_b", "jaccard_x10k")

  /** Containment near-dup pairs: `containment_x10k = floor(1e4 · |A∩B| /
    * min(|A|, |B|))` over the same df-capped inverted index as
    * [[jaccardPairs]]. Containment catches SUBSET duplication — a short
    * doc embedded verbatim in a long one scores near 10000 here while its
    * Jaccard (÷ the union) can sit far below any sane threshold — the
    * standard screen for quote/template inclusion that symmetric
    * similarity misses. Same scale shape: shingle-equijoin candidates,
    * never all pairs. */
  def containmentPairs(
      docs: DataFrame,
      n: Int = 3,
      minContainX10k: Long = 8000L,
      maxDf: Int = 1000,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val (inter, sizes) = shingleIntersections(docs, n, maxDf, idCol, textCol)
    containmentFrom(inter, sizes, minContainX10k)
  }

  /** [[containmentPairs]] over the session-pinned intersection core —
    * see [[jaccardPairsPinned]]. */
  def containmentPairsPinned(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      n: Int,
      minContainX10k: Long,
      maxDf: Int): DataFrame = {
    val (inter, sizes) = pinnedIntersections(spark, dir, n, maxDf)
    containmentFrom(inter, sizes, minContainX10k)
  }

  private def containmentFrom(
      inter: DataFrame, sizes: DataFrame, minContainX10k: Long): DataFrame =
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("set_size", "size_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("set_size", "size_b"), "id_b")
      .withColumn("containment_x10k",
        floor(lit(10000L) * col("n_common") / least(col("size_a"), col("size_b")))
          .cast("long"))
      .filter(col("containment_x10k") >= minContainX10k)
      .select("id_a", "id_b", "n_common", "size_a", "size_b", "containment_x10k")

  /** Per-doc distinct-shingle table `(id, shingle)` + the pairwise
    * intersection counts of the df-capped inverted index — the shared core
    * of [[jaccardPairs]] and [[containmentPairs]].
    *
    * Shape: explode shingles → self-join on shingle (inverted index) →
    * per-pair intersection count. The inverted-index join shuffles on the
    * shingle — hot shingles are the skew risk, which word-level n≥3
    * shingling plus the document-frequency cap (`maxDf`) bounds; AQE
    * skew-join handles the rest. Returns `(inter(id_a, id_b, n_common),
    * sizes(id, set_size))`. */
  private def shingleIntersections(
      docs: DataFrame,
      n: Int,
      maxDf: Int,
      idCol: String,
      textCol: String): (DataFrame, DataFrame) = {
    // tokens materialized in their own projection (see shinglesFromTokens);
    // the exploded shingle table is reused 3× below — persist it, tracked
    // (at 100 TB: DISK_ONLY or a staged table instead)
    // spread before the shingle build: without it, an under-split input
    // (one parquet file locally) computes every doc's sorted shingle set
    // on one task before the first shuffle (see spread())
    val sh = Materialize.cache(shinglePlan(docs, n, idCol, textCol))
    // (inter, sizes) are the expensive core shared by the Jaccard/
    // containment/near-dup-flow family; over a directory the session-pinned
    // form ([[pinnedIntersections]]) keeps them across queries, over an
    // arbitrary frame they are cached for the query
    (Materialize.cache(interFrom(sh, maxDf)), Materialize.cache(sizesFrom(sh)))
  }

  private def sizesFrom(sh: DataFrame): DataFrame =
    sh.groupBy("id").agg(count(lit(1)).as("set_size"))

  /** All (id_a < id_b) pairs sharing a key, generated IN-ROW off a
    * df-capped inverted index over a `(keyCol, idCol)` table — the one
    * sub-quadratic pair discipline shared by the Jaccard core, q211's
    * winnowing fingerprints and q222's blocking keys. Emits one row per
    * shared key occurrence (callers aggregate/distinct on top).
    *
    * The cap is TWO-PASS (round-6 ADVICE): a `count` aggregate computes
    * each key's df first — long buffers, partial map-side combine, so a
    * corpus-hot key costs a handful of longs per map task, never an id
    * array — and a LEFT SEMI join prunes hot keys BEFORE any posting
    * list is collected. A single-pass `collect_list` + size filter would
    * materialize the hot key's entire (unbounded) id array in one
    * aggregation buffer row only to discard it; here the cap bounds the
    * buffer itself. The semi join's build side is the kept-keys table
    * (bounded by the df filter); AQE plans it.
    *
    * Pairs are then generated in-row from the sorted list (`slice` past
    * each element — id_a < id_b by construction, any orderable id
    * type). Measured 1.8× faster than the equivalent capped self-join
    * (same pair multiset — the join paid a second exchange read plus
    * join build for rows the codegen'd transform emits directly). */
  def cappedPostingPairs(
      keyed: DataFrame, keyCol: String, idCol: String, maxDf: Long): DataFrame = {
    // ONE aggregation (round-8): the former two-pass cap (exact df count +
    // semi join, then collect_list — two shuffles of the keyed table)
    // existed so a hot key's posting list is never materialized; the
    // CappedCollectLongs aggregate keeps exactly that bound IN the
    // collector (at most maxDf+1 ids buffered per group, the (maxDf+1)-th
    // arrival proves the key hot and the group emits empty), so the count
    // pass and the semi join disappear. Output is unchanged: sorted
    // id lists for keys with 2 ≤ df ≤ maxDf, in-row pair explode,
    // id_a < id_b by construction.
    graft.expressions.GraftFunctions.register(keyed.sparkSession)
    keyed
      .groupBy(keyCol).agg(call_function(
        graft.expressions.GraftFunctions.CappedCollectName,
        col(idCol), lit(maxDf.toInt)).as("sids"))
      .filter(size(col("sids")) >= 2)
      // in-row pair walk via SortedPairs (round-9): the HOF form
      // (flatten/transform/slice) copied a suffix array per element and
      // ran interpreted per pair — same pair multiset, one prealloc'd
      // walk (measured ~2× on the q211 posting stage)
      .select(explode(call_function(
        graft.expressions.GraftFunctions.SortedPairsName, col("sids"))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
  }

  /** Pairwise intersection counts of the df-capped inverted index over a
    * (id, shingle) table — [[cappedPostingPairs]] + a partial-combining
    * pair count. */
  private def interFrom(sh: DataFrame, maxDf: Int): DataFrame =
    cappedPostingPairs(sh, "shingle", "id", maxDf)
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_common"))

  /** One row per (doc, DISTINCT word-n-gram shingle) — the un-persisted
    * plan; callers pick the cache tier (tracked for per-query use,
    * pinned via [[pinnedShingles]] for the cross-query core). */
  private def shinglePlan(
      docs: DataFrame, n: Int, idCol: String, textCol: String): DataFrame =
    spread(docs.select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"), wsTokens(normalizeText(col("__text"))).as("__toks"))
      .select(col("id"), explode(shinglesFromTokens(col("__toks"), n)).as("shingle"))

  // ------------------------------------------------- session-pinned cores

  /** The session-pinned distinct-shingle table `(id, shingle)` of the
    * `documents` table under `dir` — THE shared substrate of the whole
    * text-similarity family: the exact-pair queries (q16/q76/q114/q125/
    * q157 via [[pinnedIntersections]]), q192's Bloom screen, and q200's
    * PPJoin all start from this one normalize+tokenize+shingle pass
    * instead of re-deriving it per query. At corpus scale this is the
    * staged shingle table a production dedup materializes once per
    * corpus snapshot. Invalidation contract: [[Materialize.releaseSession]]. */
  def pinnedShingles(
      spark: org.apache.spark.sql.SparkSession, dir: String, n: Int): DataFrame =
    Materialize.pinned(spark, ("shingles", dir, n))(
      shinglePlan(graft.Tables.documents(spark, dir), n, "doc_id", "text"))

  /** Per-doc distinct-shingle counts `(id, set_size)` over
    * [[pinnedShingles]], pinned (tiny: one row per doc). */
  def pinnedSetSizes(
      spark: org.apache.spark.sql.SparkSession, dir: String, n: Int): DataFrame =
    Materialize.pinned(spark, ("set_sizes", dir, n))(
      sizesFrom(pinnedShingles(spark, dir, n)))

  /** The pinned (inter, sizes) pair core over [[pinnedShingles]] — see
    * [[jaccardPairsPinned]]. */
  def pinnedIntersections(
      spark: org.apache.spark.sql.SparkSession,
      dir: String, n: Int, maxDf: Int): (DataFrame, DataFrame) = {
    val inter = Materialize.pinned(spark, ("pair_intersections", dir, n, maxDf))(
      interFrom(pinnedShingles(spark, dir, n), maxDf))
    (inter, pinnedSetSizes(spark, dir, n))
  }

  /** Exact n-gram eval-contamination screen (the GPT-3/PaLM-style overlap
    * report, the exact-match complement of the MinHash band screen in
    * q53): for every training doc, how many of its distinct n-grams
    * appear in ANY eval-set doc. `evalCol` marks the eval slice of
    * `docs`.
    *
    * Scale: the eval side collapses to DISTINCT n-grams — eval sets are
    * benchmark-sized (≪ corpus), so the set broadcasts and the training
    * corpus is screened in ONE pass with no shuffle of the corpus side;
    * the per-doc counts then aggregate on the doc id. Returns every train
    * doc with ≥1 shingle: `(doc_id, n_ngrams, n_shared, shared_x10k,
    * contaminated)`. */
  def exactNgramOverlap(
      docs: DataFrame,
      evalCol: String,
      n: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val sh = Materialize.cache(
      spread(docs.select(col(idCol).as("id"), col(textCol).as("__text"),
        col(evalCol).cast("boolean").as("__eval")))
        .select(col("id"), col("__eval"),
          wsTokens(normalizeText(col("__text"))).as("__toks"))
        .select(col("id"), col("__eval"),
          explode(shinglesFromTokens(col("__toks"), n)).as("shingle")))
    val evalGrams = sh.filter(col("__eval")).select("shingle").distinct()
    val train = sh.filter(!col("__eval"))
    val shared = train.join(broadcast(evalGrams), "shingle")
      .groupBy("id").agg(count(lit(1)).as("n_shared"))
    train.groupBy("id").agg(count(lit(1)).as("n_ngrams"))
      .join(shared, Seq("id"), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .select(col("id").as(idCol), col("n_ngrams"), col("n_shared"),
        floor(lit(10000L) * col("n_shared") / col("n_ngrams")).cast("long")
          .as("shared_x10k"),
        (col("n_shared") > 0).cast("int").as("contaminated"))
  }

  /** Boilerplate-share report (the C4/RefinedWeb-style repeated-content
    * screen): an n-gram occurring in ≥ `minDf` DISTINCT docs is
    * "boilerplate" (headers, footers, templates, license blurbs); each
    * doc reports what fraction of its distinct n-grams is boilerplate —
    * the filter signal for template-heavy pages.
    *
    * Scale: one shuffle on the shingle for the df count, one equijoin
    * back (the hot set is exactly the skewed shingles, but the join fans
    * out at most the doc's own shingle rows), one per-doc aggregate.
    * Returns every doc with ≥1 shingle: `(doc_id, n_ngrams,
    * n_boilerplate, boilerplate_x10k)`. */
  def boilerplateShare(
      docs: DataFrame,
      minDf: Int,
      n: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val sh = Materialize.cache(shinglePlan(docs, n, idCol, textCol))
    // per-doc shingles are DISTINCT (shinglesFromTokens dedups), so
    // count(*) per shingle IS the distinct-doc frequency
    val hot = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf).select("shingle")
    val boiler = sh.join(hot, "shingle")
      .groupBy("id").agg(count(lit(1)).as("n_boilerplate"))
    sh.groupBy("id").agg(count(lit(1)).as("n_ngrams"))
      .join(boiler, Seq("id"), "left")
      .withColumn("n_boilerplate", coalesce(col("n_boilerplate"), lit(0L)))
      .select(col("id").as(idCol), col("n_ngrams"), col("n_boilerplate"),
        floor(lit(10000L) * col("n_boilerplate") / col("n_ngrams")).cast("long")
          .as("boilerplate_x10k"))
  }

  /** MinHash signature: `numHashes` independent min-hashes of the shingle
    * set. Hash h_i(s) = md5(i || ':' || s); the signature component is the
    * lexicographic MIN hex string — a uniform permutation min, and exactly
    * expressible in the SQL oracle.
    *
    * Computed by the fused [[graft.expressions.MinHashSig]] scalar: one
    * pass over the document's shingle array with a reused MessageDigest,
    * NO explode and NO shuffle (the declarative explode → 16 md5 columns →
    * groupBy(id) form shuffled |docs|·|shingles| rows and allocated a
    * digest per (shingle, hash); measured ~2× the whole LSH query). The
    * signature is bit-identical — the oracle SQL is unchanged. */
  def minhashSignature(
      docs: DataFrame,
      n: Int = 3,
      numHashes: Int = 16,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    graft.expressions.GraftFunctions.register(docs.sparkSession)
    spread(docs.select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"), wsTokens(normalizeText(col("__text"))).as("__toks"))
      // "docs with no shingles emit no signature row" (the explode
      // formulation's semantics) — expressed as a PRE-filter on the token
      // count (exactly ⟺ sig IS NOT NULL: shingles exist iff ≥ n tokens).
      // A post-filter on the signature column gets predicate-pushed below
      // the spread() exchange into the scan, where the single scan task
      // would evaluate the whole shingle+hash subtree serially per row
      // (measured 30 s vs 0.5 s at sf0.1). The token count is the cheap
      // pushable equivalent.
      .where(size(col("__toks")) >= n)
      .select(col("id"), shinglesFromTokens(col("__toks"), n).as("__sh"))
      .select(col("id"),
        call_function(graft.expressions.GraftFunctions.MinHashSigName,
          col("__sh"), lit(numHashes)).as("__sig"))
      .select(col("id") +:
        (0 until numHashes).map(i => col("__sig").getItem(i).as(s"mh$i")): _*)
  }

  /** MinHash LSH candidate pairs: split the signature into `bands` bands of
    * `rowsPerBand` hashes; docs agreeing on any full band are candidates.
    * Banding shuffles on (band, band_key) — the classic sub-quadratic
    * near-dup join (prob. of candidacy ≈ 1-(1-j^r)^b). */
  /** Per-doc LSH band keys `(id, band, band_key)` — the bucketable form of
    * the MinHash signature, shared by the pair join ([[minhashLshPairs]])
    * and set-vs-set screens ([[graft.queries.DataPrepQueries.q53_decontaminate]]). */
  def minhashBands(
      docs: DataFrame,
      n: Int = 3,
      bands: Int = 4,
      rowsPerBand: Int = 4,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val sig = minhashSignature(docs, n, bands * rowsPerBand, idCol, textCol)
    sig.select(
      col("id"),
      explode(array((0 until bands).map { b =>
        struct(
          lit(b).as("band"),
          md5(concat_ws("|", (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}")): _*))
            .as("band_key"))
      }: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.band_key").as("band_key"))
  }

  def minhashLshPairs(
      docs: DataFrame,
      n: Int = 3,
      bands: Int = 4,
      rowsPerBand: Int = 4,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val banded = minhashBands(docs, n, bands, rowsPerBand, idCol, textCol)
    // persist (tracked): the self-join would otherwise recompute the whole
    // shingle→signature subtree for both sides (measured 2× cost);
    // the banded table is bands-per-doc rows, tiny relative to input
    Materialize.cache(banded)
    banded.as("a").join(banded.as("b"), Seq("band", "band_key"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Incremental (delta) near-dup screen: verdicts for an ARRIVING batch
    * against the EXISTING corpus — the production shape for a continuously
    * growing corpus, where re-running the all-corpus pair join
    * ([[minhashLshPairs]]) per increment would redo O(corpus) work for an
    * O(batch) question. `isNew` (a deterministic predicate over `docs`)
    * names the batch; every new doc gets a row: the count of existing
    * docs sharing ≥1 LSH band, the lowest such id, and a `novel` flag.
    *
    * Scale shape: ONE signature pass over the union (the banded table is
    * computed once and tracked-cached for the two sides), then one
    * (band, band_key) equijoin whose left side is batch-sized. At corpus
    * scale the OLD side's band table is the persisted artifact you'd keep
    * materialized between increments (the text twin of [[AnnIndex]]'s
    * incremental `append`; [[graft.streaming.NearDupStream]] is the same
    * screen as a continuous stateful stream). New-vs-new duplication is
    * deliberately out of scope here — that's the intra-batch pair join. */
  def deltaNearDupScreen(
      docs: DataFrame,
      isNew: org.apache.spark.sql.Column,
      n: Int = 3,
      bands: Int = 4,
      rowsPerBand: Int = 4,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val tagged = Materialize.cache(
      minhashBands(docs, n, bands, rowsPerBand, idCol, textCol)
        .join(docs.select(col(idCol).as("id"), isNew.as("__new")), "id"))
    val nb = tagged.filter(col("__new"))
      .select(col("id").as("new_id"), col("band"), col("band_key"))
    val ob = tagged.filter(!col("__new"))
      .select(col("id").as("old_id"), col("band"), col("band_key"))
    val hits = nb.join(ob, Seq("band", "band_key"))
      .groupBy(col("new_id").as("id"))
      .agg(countDistinct("old_id").as("n_corpus_matches"),
        min("old_id").as("dup_of"))
    docs.filter(isNew).select(col(idCol).as("id")).join(hits, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_corpus_matches"), lit(0L)).as("n_corpus_matches"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
        col("n_corpus_matches").isNull.cast("int").as("novel"))
  }

  /** Exact-substring duplicate spans (the n-gram twin of Lee et al. 2022's
    * suffix-array ExactSubstr dedup, `deduplicate-text-datasets`): per
    * document, how much of it is covered by token `n`-grams that also
    * appear in ANOTHER document — the "how much of this doc is copied
    * prose" measure that drives span-level (not doc-level) dedup cuts.
    *
    * Shape: one n-gram pass with start positions, a partial-aggregated
    * group-by-gram to find cross-document grams, an equi-join back, and a
    * bounded ×n position explode ONLY for matched grams. The suffix-array
    * original finds arbitrary-length repeats in O(corpus); fixed-n grams
    * are the declarative approximation (a repeat of length L ≥ n is
    * covered by its L−n+1 constituent n-grams, so coverage is exact for
    * every repeat ≥ n tokens — shorter repeats are deliberately ignored).
    *
    * Returns per doc: `n_tokens`, `n_dup_grams` (gram starts shared with
    * another doc), `dup_tokens` (distinct token positions covered), and
    * `dup_frac_x1k` = 1000·dup_tokens div n_tokens. */
  def dupSpanStats(
      docs: DataFrame,
      n: Int = 8,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val base = docs.select(col(idCol).as("id"),
      wsTokens(normalizeText(col(textCol))).as("t"))
    val grams = base.select(col("id"),
      posexplode(ngramsAll(col("t"), n)).as(Seq("s", "gram")))
    // countDistinct >= 2 ⟺ min < max: O(1)-per-gram min/max partials
    // instead of the distinct expand whose partial buffers the doc set
    // of a corpus-hot gram (round-9; same reasoning as q136 — local
    // timings tie, the bound is the point)
    val crossDoc = grams.groupBy("gram")
      .agg(min("id").as("d0"), max("id").as("d1"))
      .filter(col("d0") < col("d1"))
      .select("gram")
    val hits = grams.join(crossDoc, "gram")
    val perDoc = hits
      .select(col("id"), col("s"),
        explode(sequence(col("s"), col("s") + lit(n - 1))).as("p"))
      .groupBy("id")
      .agg(countDistinct("s").as("n_dup_grams"),
        countDistinct("p").as("dup_tokens"))
    base.select(col("id"), size(col("t")).cast("long").as("n_tokens"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_tokens"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
      .withColumn("dup_frac_x1k",
        expr("CASE WHEN n_tokens = 0 THEN 0L ELSE (1000 * dup_tokens) div n_tokens END"))
  }

  /** 64-bit SimHash over whitespace tokens of the normalized text.
    * Bit j (0..63) of token t = bit (j mod 4) of the (j div 4)-th hex
    * nibble of md5(t) — the first 64 bits of the digest; the document's
    * bit j is the majority vote (ties → 1, i.e. sum of ±1 >= 0).
    * Integer-exact and md5-based → oracle-expressible. One explode + one
    * groupBy(id) shuffle; the 16 nibble values are materialized in their
    * own projection so each is decoded once, not once per referencing bit
    * (the CSE trap that cost q16 58 s in round 1).
    *
    * 64 bits matter at scale: a 16-bit signature has only 65,536 distinct
    * values, so beyond ~10⁵ docs the segment buckets collapse and the
    * candidate join degenerates toward all-pairs (VERDICT r1 #4). At
    * 64 bits the 4 segment keys have 2¹⁶ values EACH over independent
    * bits — bucket sizes stay ~|docs|/65536 per segment.
    *
    * Bit 63 is the sign bit of the BIGINT signature: the value is the raw
    * 64-bit pattern, negative when bit 63 is set — both engines do the
    * identical two's-complement arithmetic. */
  def simhash64(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    graft.expressions.GraftFunctions.register(docs.sparkSession)
    // fused scalar (graft.expressions.SimHash64): one md5 per token with a
    // reused digest, bit-majority accumulated in a local int[64] — replaces
    // the explode → 16 nibble columns → 64 sum() aggregates formulation,
    // which shuffled every token row and re-decoded nibbles per bit. Same
    // bit-for-bit signature; oracle SQL unchanged.
    spread(docs.select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"), wsTokens(normalizeText(col("__text"))).as("__toks"))
      // token-less docs emit no row (explode semantics), as a PRE-filter:
      // ≥1 token ⟺ simhash IS NOT NULL, and the cheap token count is what
      // gets predicate-pushed to the scan — not the fused hash (see
      // minhashSignature)
      .where(size(col("__toks")) >= 1)
      .select(col("id"),
        call_function(graft.expressions.GraftFunctions.SimHash64Name, col("__toks"))
          .as("simhash"))
  }

  /** SimHash near-dup pairs: hamming distance <= maxDist. Candidate
    * generation by exact match on any of the 4 16-bit segments of the
    * 64-bit signature — pigeonhole: a pair at distance <= 3 must agree
    * exactly on at least one segment — then exact hamming via
    * `bit_count(xor)`. Shuffles on (segment, key); guaranteed-complete
    * for maxDist <= 3. Segment key = (simhash >> 16s) & 0xFFFF: the mask
    * makes arithmetic and logical shift agree, so Spark and the oracle
    * compute identical keys on negative signatures. */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(maxDist <= 3, "4-segment pigeonhole screening is complete only for maxDist <= 3")
    val sig = simhash64(docs, idCol, textCol)
    val bySeg = sig.select(col("id"), col("simhash"),
      explode(array((0 until 4).map { s =>
        struct(lit(s).as("seg"),
          shiftright(col("simhash"), 16 * s).bitwiseAND(lit(0xFFFFL)).as("key"))
      }: _*)).as("s"))
      .select(col("id"), col("simhash"), col("s.seg").as("seg"), col("s.key").as("key"))
    // persist (tracked): self-joined below; avoids recomputing the
    // signature twice
    Materialize.cache(bySeg)
    // hamming filter BEFORE the distinct: candidates from the 4 segments
    // are much denser than survivors, and hamming is deterministic per
    // pair, so dedup over the filtered set is equivalent and cheaper
    bySeg.as("a").join(bySeg.as("b"), Seq("seg", "key"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
  }
}
