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
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.hadoop.fs.file.impl" -> "graft.io.InProcessLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> "graft.io.InProcessLocalFs",
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

  test("the test session shares one codegen cache across its streaming queries") {
    // with artifact isolation on, each query's jobs run under their own
    // class loader, which keys Spark's codegen cache apart per query
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") == "false")
  }

  test("the test session's local FileSystem and FileContext are the in-process ones") {
    // FileSystem.get caches one instance per scheme for the JVM whatever
    // conf asks, so this checks what the session's writes really run on
    val conf = spark.sparkContext.hadoopConfiguration
    val local = java.net.URI.create("file:///")
    assert(org.apache.hadoop.fs.FileSystem.get(local, conf).isInstanceOf[graft.io.InProcessLocalFileSystem])
    assert(org.apache.hadoop.fs.FileSystem.getLocal(conf).getRaw.isInstanceOf[graft.io.InProcessRawLocalFileSystem])
    Seq(conf, spark.sessionState.newHadoopConf()).foreach { c =>
      assert(org.apache.hadoop.fs.FileContext.getFileContext(c).getDefaultFileSystem
        .isInstanceOf[graft.io.InProcessLocalFs])
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
