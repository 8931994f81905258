package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{BinaryType, LongType, StringType}

/** The schema-resolution cache and view memo in [[Tables]]: a repeated
  * load costs no Spark job, and nothing that changes what inference
  * would return (a rewrite of the files, an inference conf, a dropped
  * view) is answered from the cache. */
class TablesSpec extends SparkSpec {

  private def withTmp[T](f: String => T): T = {
    val d = java.nio.file.Files.createTempDirectory("graft_tables_").toFile
    try f(d.getPath) finally org.apache.commons.io.FileUtils.deleteDirectory(d)
  }

  /** Runs `f` and counts the Spark jobs it launched on this thread,
    * read only after the listener bus has delivered every event. */
  private def jobsOf[T](s: SparkSession)(f: => T): (T, Int) = {
    val group = s"tables-spec-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    val sc = s.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val r = f
      Bridge.drainListenerBus(sc)
      (r, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** A one-column parquet file written without Spark's schema
    * metadata, so inference derives the Spark type from the parquet
    * type and the session's inference confs alone. */
  private def writeRaw(path: String, column: String)(values: Seq[Any]): Unit = {
    val schema = MessageTypeParser.parseMessageType(s"message m { $column; }")
    val name = schema.getFields.get(0).getName
    val out = HadoopOutputFile.fromPath(new Path(path), spark.sparkContext.hadoopConfiguration)
    val w = ExampleParquetWriter.builder(out).withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try values.foreach {
      case v: Long => w.write(groups.newGroup().append(name, v))
      case v: String => w.write(groups.newGroup().append(name, Binary.fromString(v)))
    } finally w.close()
  }

  test("a second load or view of the same source runs no Spark job") {
    Tables.orders(spark, sf)
    val (_, again) = jobsOf(spark)(Tables.orders(spark, sf))
    assert(again == 0)
    val v = Tables.view(spark, sf, "nation")
    val (v2, viewAgain) = jobsOf(spark)(Tables.view(spark, sf, "nation"))
    assert(v2 == v && viewAgain == 0)
    assert(spark.table(v).count() == spark.read.parquet(s"$sf/nation.parquet").count())
    // the counter does see schema inference: an uncached read runs it
    val (_, uncached) = jobsOf(spark)(spark.read.parquet(s"$sf/orders.parquet"))
    assert(uncached >= 1)
  }

  test("a cached load has exactly the schema inference gives") {
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
      "events", "documents", "embeddings").foreach { name =>
      Tables.table(spark, sf, name)
      assert(Tables.table(spark, sf, name).schema ==
        spark.read.parquet(s"$sf/$name.parquet").schema, name)
    }
  }

  test("rewriting a source serves the new schema and rows to table and view") {
    withTmp { d =>
      spark.range(3).toDF("a").write.parquet(s"$d/t.parquet")
      assert(Tables.table(spark, d, "t").columns.toSeq == Seq("a"))
      val v = Tables.view(spark, d, "t")
      assert(spark.table(v).count() == 3)
      spark.range(5).selectExpr("id AS b", "CAST(id AS STRING) AS c")
        .write.mode("overwrite").parquet(s"$d/t.parquet")
      val t = Tables.table(spark, d, "t")
      assert(t.columns.toSeq == Seq("b", "c"))
      assert(t.count() == 5)
      assert(Tables.view(spark, d, "t") == v)
      assert(spark.table(v).columns.toSeq == Seq("b", "c"))
      assert(spark.table(v).count() == 5)
    }
  }

  test("flipping spark.sql.legacy.parquet.nanosAsLong re-infers") {
    withTmp { d =>
      val path = s"$d/ev.parquet"
      writeRaw(path, "required int64 ts (TIMESTAMP(NANOS,true))")(Seq(1L, 2L))
      val s2 = spark.newSession()
      val key = "spark.sql.legacy.parquet.nanosAsLong"
      def loaded = Try(Tables.table(s2, d, "ev").schema("ts").dataType).toOption
      def inferred = Try(s2.read.parquet(path).schema("ts").dataType).toOption
      s2.conf.set(key, "true")
      assert(loaded.contains(LongType))
      s2.conf.set(key, "false")
      assert(!inferred.contains(LongType))
      assert(loaded == inferred)
      s2.conf.set(key, "true")
      assert(loaded.contains(LongType))
    }
  }

  test("a session with other inference confs does not share a schema") {
    withTmp { d =>
      writeRaw(s"$d/bin.parquet", "required binary b")(Seq("x", "y"))
      assert(Tables.table(spark, d, "bin").schema("b").dataType == BinaryType)
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.parquet.binaryAsString", "true")
      val t2 = Tables.table(s2, d, "bin")
      assert(t2.schema("b").dataType == StringType)
      assert(t2.collect().map(_.getString(0)).sorted.toSeq == Seq("x", "y"))
      assert(Tables.table(spark, d, "bin").schema("b").dataType == BinaryType)
    }
  }

  test("dropTempView followed by view registers the view again") {
    val v = Tables.view(spark, sf, "region")
    assert(spark.catalog.dropTempView(v))
    assert(!spark.catalog.tableExists(v))
    assert(Tables.view(spark, sf, "region") == v)
    assert(spark.table(v).count() == spark.read.parquet(s"$sf/region.parquet").count())
  }

  test("bytes is the source's content size, and None when it is absent") {
    def contentSize(path: String): Long = {
      val p = new Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).getContentSummary(p).getLength
    }
    val fixtures = Seq(sf, new java.io.File(sf).getParent + "/sf0.01", sfLarge)
      .filter(new java.io.File(_).isDirectory)
    fixtures.foreach { dir =>
      assert(Tables.bytes(spark, dir, "orders").contains(contentSize(s"$dir/orders.parquet")))
    }
    withTmp { d =>
      assert(Tables.bytes(spark, d, "orders").isEmpty)
      spark.range(100).write.parquet(s"$d/orders.parquet")
      assert(Tables.bytes(spark, d, "orders").contains(contentSize(s"$d/orders.parquet")))
    }
  }
}
