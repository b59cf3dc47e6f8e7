package graft

import org.apache.spark.sql.SaveMode

/** Degenerate-input robustness: every driver query must run (possibly to
  * zero rows) on EMPTY tables with the production schemas. Guards the
  * null-span family of crashes — `sequence(null, null)`, aggregates of
  * nothing feeding `explode`, `limit(k)` of empty feeding windows — which
  * a 100 TB pipeline hits on every empty partition/day/source slice. */
class EmptyInputSpec extends SparkSpec {

  private lazy val emptyDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-empty").toString
    val src = "/root/testdata/sf0.001"
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet").limit(0)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/$t.parquet")
    }
    dir
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, q) =>
    test(s"$name runs on empty inputs") {
      val n = q(spark, emptyDir).count()
      assert(n >= 0)
      graft.ops.Materialize.releaseQuery(spark)
    }
  }
}
