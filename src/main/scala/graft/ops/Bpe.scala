package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge training — the tokenizer-training loop an LLM
  * data pipeline runs over the corpus vocabulary before anything can be
  * token-counted (ref behavior surface: the reference engine has no
  * tokenizer; this is part of the §2.3b beyond-reference training-data
  * operators).
  *
  * Classic BPE (Sennrich et al. 2016) trains on the DISTINCT-word frequency
  * table, not the corpus: `(word, n)` with n = corpus occurrences. Each
  * word starts as its character sequence; every round counts adjacent
  * symbol pairs (weighted by word count), picks the most frequent pair
  * (ties: lexicographic (lhs, rhs) — deterministic across engines), and
  * merges its non-overlapping left-to-right occurrences into one symbol.
  *
  * Exactness: greedy left-to-right merging is replayed relationally — a
  * position merges iff its pair is the chosen pair AND it sits at an even
  * offset inside its run of consecutive chosen-pair positions (for lhs ≠
  * rhs runs are length 1, so this is just "pair matches"; for lhs = rhs it
  * reproduces greedy handling of symbol runs like `aaaa → aa aa`). That
  * rule is pure window algebra, so Spark and the driver's DuckDB oracle
  * compute bit-identical merge tables.
  *
  * Scale shape: the corpus is touched ONCE (the vocabulary aggregate the
  * caller passes in — one partial-aggregated shuffle). Every training
  * round runs over the vocabulary's exploded symbol table, ≪ corpus
  * (distinct words, not occurrences), shuffling on `word` for the windows
  * and on the symbol pair for the count — both vocabulary-sized. The
  * chosen pair is never collected: each round's winner is a 1-row
  * broadcast (TakeOrderedAndProject → BroadcastNestedLoopJoin), so the
  * whole training is ONE lazy plan like [[KMeans.lloydCentroids]].
  */
object Bpe {

  /** Exploded initial segmentation: one row per (word, position) holding
    * the single-character symbol. */
  private def charSeg(vocab: DataFrame, wordCol: String, countCol: String): DataFrame =
    vocab.select(col(wordCol).as("word"), col(countCol).cast("long").as("n"))
      // split on the empty pattern yields a trailing "" in Java regex
      // semantics; drop empties so symbols are exactly the characters
      .select(col("word"), col("n"),
        posexplode(filter(split(col("word"), ""), t => length(t) > 0))
          .as(Seq("pos", "tok")))

  /** The round winner `(lhs, rhs, pair_n)` as a 1-row DataFrame. */
  private def chosenPair(seg: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy("word").orderBy("pos")
    seg.withColumn("nxt", lead("tok", 1).over(wOrd))
      .filter(col("nxt").isNotNull)
      .groupBy(col("tok").as("lhs"), col("nxt").as("rhs"))
      .agg(sum("n").as("pair_n"))
      .orderBy(col("pair_n").desc, col("lhs"), col("rhs"))
      .limit(1)
  }

  /** Apply one merge round: every greedy left-to-right occurrence of the
    * chosen pair collapses to one symbol. Window algebra (see object doc):
    * runs of consecutive chosen-pair positions merge at even offsets, the
    * right half of each merged pair drops. */
  private def mergeRound(seg: DataFrame, chosen: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy("word").orderBy("pos")
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    seg
      .withColumn("nxt", lead("tok", 1).over(wOrd))
      // LEFT against the 1-row winner: when merges are exhausted (no
      // adjacent pairs anywhere), the winner relation is EMPTY and a plain
      // cross join would wipe the segmentation — left keeps it unchanged
      // (null lhs/rhs ⇒ f = 0 everywhere)
      .join(broadcast(chosen), lit(true), "left")
      .withColumn("f",
        (col("tok") === col("lhs") && col("nxt") === col("rhs")).cast("int"))
      // Run-rank parity WITHOUT the (word, f) / (word, grp) partition keys
      // (round 11): every window below rides the SAME word partitioning as
      // wOrd, so one merge round costs ONE exchange instead of three — the
      // stacked WindowExecs share the sort. Exact replay of the
      // grp = pos − rank(f=1) / row_number().over(word, grp) % 2 = 1 rule
      // (the algebra the DuckDB oracle runs): two f = 1 rows share a grp
      // iff they are adjacent f = 1 rows AND their positions differ by
      // exactly 1 — after earlier rounds have merged multi-char symbols,
      // adjacent f = 1 rows can sit L > 1 positions apart and the old rule
      // puts each in its OWN group (every occurrence s = 1). So a run
      // breaks on EITHER a non-f predecessor OR a position gap (ADVICE
      // r11: the lag(f)-only rule merged odd-L repeated-symbol runs
      // pairwise and diverged from the oracle; BpeSpec pins the
      // 'abcabcabc' case). Within a run positions ARE consecutive, so
      // pos − run_start even ⇔ odd 1-based rank ⇔ merge start.
      .withColumn("newrun",
        (col("f") === 1 && !(coalesce(lag("f", 1).over(wOrd), lit(0)) === 1 &&
          lag("pos", 1).over(wOrd) === col("pos") - 1))
          .cast("int"))
      .withColumn("run_start",
        max(when(col("newrun") === 1, col("pos"))).over(wRun))
      .withColumn("s",
        when(col("f") === 1 && (col("pos") - col("run_start")) % 2 === 0, 1)
          .otherwise(0))
      .withColumn("prev_s", coalesce(lag("s", 1).over(wOrd), lit(0)))
      .filter(col("prev_s") === 0) // right half of a merged pair drops
      .select(col("word"), col("n"), col("pos"),
        when(col("s") === 1, concat(col("lhs"), col("rhs")))
          .otherwise(col("tok")).as("tok"))
  }

  /** The merge table after `rounds` training rounds:
    * `(merge_round, lhs, rhs, merged, pair_n)`, 1-indexed — the artifact a
    * BPE tokenizer ships (apply order = merge_round order). One lazy plan;
    * nothing is collected to the driver. */
  def trainMerges(
      vocab: DataFrame,
      rounds: Int,
      wordCol: String = "word",
      countCol: String = "n"): DataFrame = {
    require(rounds >= 1, "at least one merge round")
    var seg = charSeg(vocab, wordCol, countCol)
    var merges: DataFrame = null
    for (r <- 1 to rounds) {
      val chosen = chosenPair(seg)
      val row = chosen.select(lit(r).as("merge_round"), col("lhs"), col("rhs"),
        concat(col("lhs"), col("rhs")).as("merged"), col("pair_n"))
      merges = if (merges == null) row else merges.unionByName(row)
      if (r < rounds) seg = mergeRound(seg, chosen)
    }
    merges
  }

  /** Final segmentation after `rounds` merge rounds, for inspection/tests:
    * `(word, n, seg array<string>)`. */
  def segmentations(
      vocab: DataFrame,
      rounds: Int,
      wordCol: String = "word",
      countCol: String = "n"): DataFrame = {
    var seg = charSeg(vocab, wordCol, countCol)
    for (_ <- 1 to rounds) seg = mergeRound(seg, chosenPair(seg))
    seg.groupBy("word", "n")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
        s => s.getField("tok")).as("seg"))
  }

  /** Segmentations snapshotted at SEVERAL merge budgets in one training
    * pass — round r's symbol table is a shared prefix of every r' > r,
    * so the sweep costs max(rounds) merge rounds, not their sum. Each
    * checkpoint's exploded seg table is cache-tracked (vocabulary-sized)
    * so a later checkpoint's plan resumes from the previous one instead
    * of replaying the whole chain. Returns (rounds → grouped (word, n,
    * seg)) in ascending round order. */
  def segmentationSweep(
      vocab: DataFrame,
      rounds: Seq[Int],
      wordCol: String = "word",
      countCol: String = "n"): Seq[(Int, DataFrame)] =
    segmentationSweepPositional(vocab, rounds, wordCol, countCol).map {
      case (target, seg) =>
        target -> seg.groupBy("word", "n")
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            s => s.getField("tok")).as("seg"))
    }

  /** The sweep's cached POSITIONAL tables `(word, n, pos, tok)` — for
    * consumers whose per-arm metrics are plain aggregates (q278's
    * fertility = sum(n) over rows, vocab size = countDistinct(tok)):
    * the grouped [[segmentationSweep]] form re-runs a struct
    * collect_list per CONSUMER per arm on top of these (round-9). */
  def segmentationSweepPositional(
      vocab: DataFrame,
      rounds: Seq[Int],
      wordCol: String = "word",
      countCol: String = "n"): Seq[(Int, DataFrame)] = {
    require(rounds.nonEmpty && rounds.forall(_ >= 0), "rounds must be >= 0")
    var seg = charSeg(vocab, wordCol, countCol)
    var done = 0
    rounds.sorted.map { target =>
      while (done < target) {
        seg = mergeRound(seg, chosenPair(seg))
        done += 1
      }
      seg = Materialize.checkpoint(seg)
      target -> seg
    }
  }
}
