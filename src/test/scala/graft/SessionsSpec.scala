package graft

/** Pins the session conf every `main` builds through [[Sessions.local]].
  * The expected map is the conf `Bench` and `Verify` run on, written out
  * by hand, so a change to the factory that would move the bench or the
  * correctness dump fails here. */
class SessionsSpec extends SparkSpec {

  private def benchVerifyConf(cpus: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "65536",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.codegen.cache.maxEntries" -> "5000",
    "spark.cleaner.periodicGC.interval" -> "30s")

  Seq(32, 8).foreach { cpus =>
    test(s"Sessions.conf($cpus) is the Bench/Verify conf, key for key") {
      val c = Sessions.conf(cpus)
      assert(c.map(_._1).distinct.size == c.size, "a key is set twice")
      assert(c.toMap == benchVerifyConf(cpus))
    }
  }

  test("extra settings come last and override the shared ones") {
    val c = Sessions.conf(4, "spark.sql.shuffle.partitions" -> "7", "spark.x" -> "y")
    assert(c.takeRight(2) == Seq("spark.sql.shuffle.partitions" -> "7", "spark.x" -> "y"))
    assert(c.toMap.apply("spark.sql.shuffle.partitions") == "7")
  }

  test("the test session runs on the shipped conf") {
    assert(spark.sparkContext.master == "local[4]")
    Sessions.conf(4).filterNot(_._1 == "spark.master").foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, k)
    }
  }

  test("Sessions.scala is the only SparkSession builder under src/main") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main")
    assert(java.nio.file.Files.isDirectory(root))
    val builders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => java.nio.file.Files.readString(p).contains("SparkSession.builder("))
      .map(_.getFileName.toString).toSeq
    assert(builders == Seq("Sessions.scala"))
  }
}
