package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** Bench's two output lines come from one computation: over a small
  * fixture, every summary the compact line carries equals the full
  * line's own value, both lines parse, and the compact line stays inside
  * the 1.5 KB tail-capture guard even with every query of the board and
  * many failed reps. */
class BenchLinesSpec extends AnyFunSuite {

  private val json = new ObjectMapper()

  private val diag = Seq(
    "stream" -> Bench.Diag(120, 3400, 512, 10, 100000, "non-nmethods=5/7MB"),
    "end" -> Bench.Diag(900, 9100, 2048, 25, 400000, "profiled=80/500MB"))

  private val sf1 =
    """{"cores_s":12.5,"duck_pairing":{"duck_total_s":40.0,"heavy":{"ratio":9.9},""" +
    """"n_over_2x":3,"ratio":7.7,"spark_total_s":100.0},"n_failed":1,"queries":{"q01":1.5},"total_s":101.5}"""

  /** A run over `queries` where every `failEvery`-th query fails a rep
    * (every other one of those fails both). */
  private def run(queries: Seq[String], failEvery: Int = 97): Bench.Run = Bench.Run(
    sfDir = "/data/sf0.1",
    reps = queries.zipWithIndex.map { case (q, i) =>
      q -> Vector(if (i % (2 * failEvery) == failEvery) -1.0 else 0.1 + i % 7,
        if (i % failEvery == 0) -1.0 else 0.05 + i % 7) },
    cores = Seq("knn_graph" -> 1.25, "shingles" -> 0.5),
    streamReps = Seq("hdfs_1x" -> Vector(9000L, 11000L), "rocksdb_1x" -> Vector(7000L, 6000L),
      "hdfs_10x" -> Vector(20000L, 21000L), "rocksdb_10x" -> Vector(15000L, -1L)),
    streamSteal = Seq("hdfs_1x" -> Vector(0.5, 1.25)),
    diag = diag,
    duck = Some(queries.zipWithIndex.map { case (q, i) => q -> (0.02 + (i % 11) * 0.1) }.toMap),
    sf1 = Some(sf1))

  private def parse(line: String): JsonNode = json.readTree(line)

  test("the compact line's summaries equal the full line's values") {
    val (full, compact) = Bench.lines(run(Seq("q01_a", "q02_b", "q03_c", "q04_d", "q05_e", "q06_f")))
    val (f, c) = (parse(full), parse(compact))
    val pairing = f.path("duck_pairing")
    assert(pairing.path("n_paired").asInt == 6)
    assert(c.path("duck_pairing").path("n_paired") == pairing.path("n_paired"))
    assert(c.path("duck_pairing").path("ratio") == pairing.path("ratio"))
    assert(c.path("duck_pairing").path("heavy_ratio") == pairing.path("heavy").path("ratio"))
    assert(c.path("duck_pairing").path("heavy_n_over_2x") == pairing.path("heavy").path("n_over_2x"))
    diag.foreach { case (k, d) =>
      assert(f.path("diag").path(k).asText.startsWith(c.path("diag").path(k).asText + " "))
      assert(c.path("diag").path(k).asText == s"gcMs=${d.gcMs} jitMs=${d.jitMs} heapMB=${d.heapMb}")
    }
    val s1 = c.path("sf1")
    assert(s1.path("total_s") == f.path("sf1").path("total_s"))
    assert(s1.path("n_failed") == f.path("sf1").path("n_failed"))
    assert(s1.path("n_over_2x") == f.path("sf1").path("duck_pairing").path("n_over_2x"))
    assert(s1.path("ratio").asDouble == 2.5, "sf1 ratio = spark_total_s / duck_total_s")
    Seq("stream_hdfs_events_per_sec", "stream_rocksdb_events_per_sec",
        "stream_hdfs_events_per_sec_10x", "stream_rocksdb_events_per_sec_10x", "failed_reps",
        "stream_steal_pct")
      .foreach(k => assert(c.path(k) == f.path(k), k))
    assert(c.path("failed_queries").asInt == f.path("failed_reps").size)
    assert(f.path("stream_rocksdb_events_per_sec").asLong == 7000L, "the best rep")
  }

  test("no DuckDB pairing or sf1 file: both summaries are null") {
    val (full, compact) = Bench.lines(run(Seq("q01_a")).copy(duck = None, sf1 = None))
    Seq(parse(full), parse(compact)).foreach { l =>
      assert(l.path("duck_pairing").isNull && l.path("sf1").isNull)
    }
  }

  private val board = (1 to 395).map(i => f"q$i%03d_a_long_query_name_$i")

  test("the compact line stays within 1500 bytes over a full board") {
    val (full, compact) = Bench.lines(run(board))
    assert(parse(full).path("queries").size == 395)
    assert(parse(compact).path("n_queries").asInt == 395)
    assert(compact.getBytes("UTF-8").length <= 1500, compact.length)
  }

  test("many failed reps: the compact line stays within 1500 bytes and counts them all") {
    // one query in five fails a rep (one in ten both): uncapped, the
    // compact failed_reps map alone is past the budget
    val (full, compact) = Bench.lines(run(board, failEvery = 5))
    val (f, c) = (parse(full), parse(compact))
    assert(f.path("failed_reps").size == 79)
    assert(compact.getBytes("UTF-8").length <= 1500, compact.length)
    assert(c.path("failed_queries").asInt == 79)
    val kept = c.path("failed_reps")
    assert(kept.size > 0 && kept.size < 79)
    kept.fieldNames.forEachRemaining { k =>
      assert(kept.path(k).asInt == 2, s"$k: the capped map keeps the most-failed queries")
      assert(f.path("failed_reps").path(k) == kept.path(k))
    }
  }

  test("the compact line falls back to scalars only when even capped maps do not fit") {
    val (_, compact) = Bench.lines(run(board).copy(sfDir = "/data/" + "x" * 900))
    val c = parse(compact)
    assert(compact.getBytes("UTF-8").length <= 1500, compact.length)
    Seq("slowest", "failed_reps", "diag", "stream_steal_pct").foreach(k => assert(c.path(k).size == 0, k))
    assert(c.path("failed_queries").asInt == 5)
  }
}
