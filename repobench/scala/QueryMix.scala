package repobench

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Generates the star schema of the repo's test fixtures (same table
  * names, columns and value domains) at 0.4 of sf0.01 for the fact tables,
  * from a fixed data seed, one parquet file per table. */
object StarData {
  val DataSeed = 42L

  private val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val colors = Array("blue", "red", "green", "small", "large", "shiny", "dark", "pale")
  private val nouns = Array("anvil", "widget", "bolt", "ring", "gear", "spring", "nut", "valve")
  private val ptypes = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Array("click", "error", "purchase", "signup", "view")
  private val langs = Array("de", "en", "es", "fr", "zh")
  private val vocab = ("a the big small fast slow data table row column key value part order " +
    "line customer query scan filter join group agg sort hash merge window batch stream spark " +
    "vector index page cache plan stage task shuffle").split(" ")

  private val day0 = java.time.LocalDate.of(1995, 1, 1).toEpochDay * 86400000L
  private val ev0 = java.time.LocalDate.of(2024, 1, 1).toEpochDay * 86400000L

  private def round2(x: Double): Double = math.round(x * 100.0) / 100.0

  /** The tables under `root`, generated on first use and reused by later
    * runs in the same checkout (they do not depend on the run's seed);
    * returns (directory, hash of all rows). */
  def cached(spark: SparkSession, root: Path): (Path, String) = synchronized {
    val dir = root.resolve(s"star-v$Version-$DataSeed")
    val done = dir.resolve("_HASH")
    if (!Files.exists(done)) {
      val tmp = root.resolve(s"star-tmp-${ProcessHandle.current().pid()}")
      val h = write(spark, tmp)
      Files.writeString(tmp.resolve("_HASH"), h)
      try Files.move(tmp, dir)
      catch { case _: java.io.IOException if Files.exists(done) => Main.deleteTree(tmp) }
    }
    (dir, Files.readString(done).trim)
  }

  /** Bump when the generator changes, so cached tables are remade. */
  val Version = 1

  /** Writes every table under `dir`; returns a hash of all rows. */
  def write(spark: SparkSession, dir: Path): String = {
    val r = new java.util.SplittableRandom(DataSeed)
    def pick[T](a: Array[T]): T = a(r.nextInt(a.length))
    def day(maxDays: Int) = new Timestamp(day0 + r.nextInt(maxDays) * 86400000L)

    val digest = java.security.MessageDigest.getInstance("SHA-256")
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit = {
      rows.foreach(r => digest.update(r.mkString("|").getBytes("UTF-8")))
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.parquet(dir.resolve(s"$name.parquet").toString)
    }

    import org.apache.spark.sql.types.{DataTypes => T}
    def st(fs: (String, DataType)*) = StructType(fs.map { case (n, t) => StructField(n, t) })

    save("region", st("r_regionkey" -> T.IntegerType, "r_name" -> T.StringType),
      regions.indices.map(i => Row(i, regions(i))))
    save("nation", st("n_nationkey" -> T.IntegerType, "n_name" -> T.StringType,
      "n_regionkey" -> T.IntegerType), (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    save("customer", st("c_custkey" -> T.LongType, "c_name" -> T.StringType,
      "c_nationkey" -> T.IntegerType, "c_acctbal" -> T.DoubleType, "c_mktsegment" -> T.StringType),
      (0 until 600).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        round2(-999.99 + r.nextDouble() * 10999.98), pick(segments))))
    save("supplier", st("s_suppkey" -> T.LongType, "s_name" -> T.StringType,
      "s_nationkey" -> T.IntegerType, "s_acctbal" -> T.DoubleType),
      (0 until 100).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        round2(-999.99 + r.nextDouble() * 10999.98))))
    save("part", st("p_partkey" -> T.LongType, "p_name" -> T.StringType, "p_brand" -> T.StringType,
      "p_type" -> T.StringType, "p_size" -> T.IntegerType, "p_retailprice" -> T.DoubleType),
      (0 until 2000).map(i => Row(i.toLong, s"${pick(colors)} ${pick(nouns)}",
        s"Brand#${1 + r.nextInt(25)}", pick(ptypes), 1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0)))
    save("orders", st("o_orderkey" -> T.LongType, "o_custkey" -> T.LongType,
      "o_orderstatus" -> T.StringType, "o_totalprice" -> T.DoubleType,
      "o_orderdate" -> T.TimestampType, "o_orderpriority" -> T.StringType),
      (0 until 6000).map(i => Row(i.toLong, r.nextInt(600).toLong, pick(Array("F", "O", "P")),
        round2(1000.0 + r.nextDouble() * 499000.0), day(2400), pick(priorities))))
    save("lineitem", st("l_orderkey" -> T.LongType, "l_partkey" -> T.LongType,
      "l_suppkey" -> T.LongType, "l_linenumber" -> T.IntegerType, "l_quantity" -> T.DoubleType,
      "l_extendedprice" -> T.DoubleType, "l_discount" -> T.DoubleType, "l_tax" -> T.DoubleType,
      "l_returnflag" -> T.StringType, "l_linestatus" -> T.StringType, "l_shipdate" -> T.TimestampType),
      (0 until 24000).map(_ => Row(r.nextInt(6000).toLong, r.nextInt(2000).toLong,
        r.nextInt(100).toLong, 1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble,
        round2(900.0 + r.nextDouble() * 104000.0), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        pick(Array("A", "N", "R")), pick(Array("F", "O")), day(2500))))
    save("events", st("event_id" -> T.LongType, "ts" -> T.TimestampType, "user_id" -> T.LongType,
      "event_type" -> T.StringType, "value" -> T.DoubleType, "props" -> T.StringType),
      (0 until 4000).map { i =>
        val ts = new Timestamp(ev0 + i * 648000L + r.nextInt(200000))
        ts.setNanos(ts.getNanos + r.nextInt(1000) * 1000)
        Row(i.toLong, ts, r.nextInt(150).toLong, pick(eventTypes),
          round2(0.01 + r.nextDouble() * 490.0), s"""{"k": ${r.nextInt(100)}}""")
      })
    // documents: a third are near-duplicates of an earlier document
    // (one token replaced), so the dedup operators find real clusters
    val texts = new Array[String](500)
    for (i <- 0 until 500) {
      texts(i) =
        if (i >= 5 && r.nextInt(3) == 0) {
          val toks = texts(i - 1 - r.nextInt(5)).split(" ")
          toks(r.nextInt(toks.length)) = pick(vocab)
          toks.mkString(" ")
        } else Seq.fill(8 + r.nextInt(90))(pick(vocab)).mkString(" ")
    }
    save("documents", st("doc_id" -> T.LongType, "text" -> T.StringType, "lang" -> T.StringType,
      "source" -> T.StringType, "n_chars" -> T.LongType),
      (0 until 500).map(i => Row(i.toLong, texts(i), pick(langs), s"src${r.nextInt(20)}",
        texts(i).length.toLong)))
    val centroids = Array.fill(10, 64)(r.nextDouble() * 0.3 - 0.15)
    save("embeddings", st("vec_id" -> T.LongType, "embedding" -> ArrayType(T.FloatType),
      "label" -> T.IntegerType),
      (0 until 500).map { i =>
        val label = r.nextInt(10)
        val v = Array.tabulate(64)(j => (centroids(label)(j) + r.nextDouble() * 0.2 - 0.1).toFloat)
        Row(i.toLong, v.toSeq, label)
      })
    digest.digest().map(b => f"$b%02x").mkString.take(16)
  }
}

/** `query_mix`: a fixed list of registered query keys and the
  * flagship pipeline over generated star-schema data, plus one
  * scheduled Verkada sync against the in-process stub. One operation
  * is one pass over the list in a seed-shuffled order. Each query
  * result is materialized by an all-columns fingerprint and checked
  * against the stored expected fingerprint and row count; the sync is
  * checked against what its generator predicts. A pass's latency is
  * the sum of its items' times; the checks run outside it. Each item is one timed part. */
final class QueryMix(ctx: Ctx) extends Workload {
  import QueryMix._
  private val spark = ctx.spark
  private val expectedPath = ctx.args.benchDir.resolve("expected").resolve("query_mix.json")
  private var dir: Path = _
  private var hash = ""
  private var starHash = ""
  private val rng = new scala.util.Random(ctx.args.seed)
  private val sync = new Sync(ctx)

  private lazy val expected: Map[String, (Long, String)] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(expectedPath.toFile)
    require(root.get("input_hash").asText() == starHash,
      s"generated inputs ${starHash} differ from the recorded ${root.get("input_hash").asText()}")
    root.get("keys").properties().asScala.map { e =>
      e.getKey -> (e.getValue.get("rows").asLong(), e.getValue.get("fingerprint").asText())
    }.toMap
  }

  private var genSeconds = 0.0

  override def prepare(): Unit = {
    sync.prepare()
    val t0 = System.nanoTime()
    val (d, h) = StarData.cached(spark, ctx.args.work.getParent)
    genSeconds = (System.nanoTime() - t0) / 1e9
    dir = d
    starHash = h
    hash = sha256(h + sync.inputHash)
    // resolve every key once so a missing registration fails set-up
    keys.foreach(k => require(k == Flagship || graft.SparkEntry.queries.contains(k), s"no query $k"))
  }

  override def inputHash: String = hash
  override def warmupOps: Int = 1
  override def traceOps: Int = 2
  override def inputSeconds: Double = genSeconds
  override def opName: String = "pass"

  private def runKey(k: String): (Long, String) = {
    val df = ctx.span(s"ops.$k.build") {
      if (k == Flagship) graft.pipeline.Flagship(spark, dir.toString)
      else graft.SparkEntry.queries(k)(spark, dir.toString)
    }
    ctx.span(s"ops.$k.action")(Main.fingerprint(df))
  }

  override def op(i: Int): OpResult = {
    // the warm-up pass runs in list order, so every seed times passes
    // from the same JIT and cache state
    val items = keys :+ SyncItem
    val bad = (if (i < 0) items else rng.shuffle(items)).flatMap { k =>
      if (k == SyncItem) {
        val (out, failures) = ctx.timed(SyncItem)(sync.run())
        val b = sync.check(out, failures, timed = i >= 0)
        // the sync's output stays cached until checked; drop it
        spark.catalog.clearCache()
        b
      } else {
        val r = ctx.timed(k)(runKey(k))
        if (expected.get(k).contains(r)) Nil
        else Seq(s"$k got rows=${r._1} fp=${r._2}, expected ${expected.get(k)}")
      }
    }
    // keys cache intermediate results; drop them so passes stay alike
    spark.catalog.clearCache()
    OpResult(bad.isEmpty, bad.mkString("; "))
  }

  override def layerMetrics(c: Ctx): Map[String, Double] = keys.flatMap { k =>
    val b = c.tracer.spanMs(s"ops.$k.build")
    val a = c.tracer.spanMs(s"ops.$k.action")
    Seq(s"ops.${k}_s" -> (a + b) / 1000.0, s"ops.$k.build_ms" -> b, s"ops.$k.action_ms" -> a)
  }.toMap ++ sync.layerMetrics(c)

  override def report: Seq[String] =
    Seq(s"items (${keys.size + 1}): ${(keys :+ SyncItem).mkString(" ")}") ++ sync.report

  override def close(): Unit = sync.close()
}

object QueryMix {
  val Flagship = "flagship"
  val SyncItem = "verkada_sync"
  /** Registered keys measured in every pass, plus the flagship. */
  val keys: Seq[String] = Seq(
    "q_sql_tpch13", "q_sql_tpch3", Flagship)

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(16)
}
