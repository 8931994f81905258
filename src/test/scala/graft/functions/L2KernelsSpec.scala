package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.Literal

/** Optimization-r17 kernels: the native fused L2SqDistance and
  * ArgMinL2 expressions must be BIT-equal to the HOF/min_by
  * formulations they replaced in the PQ/IVF+PQ quantizer paths —
  * including tie-breaks, null elements, and length mismatches. The
  * suite session runs with codegen.fallback=false, so these tests
  * exercise the generated code, not the interpreted eval.
  */
class L2KernelsSpec extends SparkSpec {
  import spark.implicits._

  /** The replaced HOF twin, verbatim. */
  private def hofL2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) =>
      (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0d), (acc, v) => acc + v)

  test("L2SqDistance == HOF fold, float arrays, bitwise") {
    val df = spark.range(500).select(col("id"),
      transform(sequence(lit(1), lit(8)),
        i => ((i * 37 + col("id") * 13) % 101 / 7.0).cast("float")).as("a"),
      transform(sequence(lit(1), lit(8)),
        i => ((i * 53 + col("id") * 29) % 97 / 11.0).cast("float")).as("b"))
    val bad = df.select(
      L2SqDistance.l2sq_dist(col("a"), col("b")).as("fused"),
      hofL2(col("a"), col("b")).as("hof"))
      .filter(col("fused") =!= col("hof") ||
        col("fused").isNull =!= col("hof").isNull)
    assert(bad.count() === 0)
  }

  test("L2SqDistance == HOF fold, double arrays, bitwise") {
    val df = spark.range(500).select(col("id"),
      transform(sequence(lit(1), lit(8)),
        i => (i * 37 + col("id") * 13) % 101 / 7.0).as("a"),
      transform(sequence(lit(1), lit(8)),
        i => (i * 53 + col("id") * 29) % 97 / 11.0).as("b"))
    val bad = df.select(
      L2SqDistance.l2sq_dist(col("a"), col("b")).as("fused"),
      hofL2(col("a"), col("b")).as("hof"))
      .filter(col("fused") =!= col("hof") ||
        col("fused").isNull =!= col("hof").isNull)
    assert(bad.count() === 0)
  }

  test("L2SqDistance: length mismatch and null element yield null (HOF parity)") {
    val df = Seq(
      (Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](1.0)),
      (Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 2.0)),
      (Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](null, 2.0)))
      .toDF("a", "b")
    val rows = df.select(
      L2SqDistance.l2sq_dist(col("a"), col("b")).as("fused"),
      hofL2(col("a"), col("b")).as("hof")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(0), s"fused must be null: $r")
      assert(r.isNullAt(1), s"HOF twin must be null: $r")
    }
  }

  test("ArgMinL2 == min_by over exploded candidates, ties included") {
    // 64 candidates per subspace with deliberate distance ties:
    // cvec depends on cid % 16 only, so each distance value is shared
    // by 4 cids — the (d2, cid) tie-break must pick the smallest cid
    val subs = spark.range(300).select(col("id"),
      transform(sequence(lit(1), lit(8)),
        i => ((i * 31 + col("id") * 7) % 23).cast("double")).as("sv"))
    val cands = spark.range(64).select(col("id").as("cid"),
      transform(sequence(lit(1), lit(8)),
        i => ((i * 31 + (col("id") % 16) * 3) % 23).cast("double")).as("cvec"))
    val candArr = cands.agg(collect_list(struct(col("cid"), col("cvec"))).as("cands"))
    val fused = subs.crossJoin(broadcast(candArr))
      .select(col("id"), ArgMinL2.argmin_l2(col("sv"), col("cands")).as("cid"))
    val reference = subs.crossJoin(broadcast(cands))
      .withColumn("d2", hofL2(col("sv"), col("cvec")))
      .groupBy("id")
      .agg(min_by(col("cid"), struct(col("d2"), col("cid"))).as("cid"))
    assert(fused.join(reference, Seq("id"))
      .filter(fused("cid") =!= reference("cid")).count() === 0)
    assert(fused.count() === 300)
  }

  test("ArgMinL2: float candidate vectors widen like the join kernel") {
    val subs = spark.range(100).select(col("id"),
      transform(sequence(lit(1), lit(8)),
        i => ((i + col("id") % 13) / 3.0).cast("float")).as("sv"))
    val cands = spark.range(32).select(col("id").as("cid"),
      transform(sequence(lit(1), lit(8)),
        i => ((i * 5 + col("id") * 11) % 29 / 3.0).cast("float")).as("cvec"))
    val candArr = cands.agg(collect_list(struct(col("cid"), col("cvec"))).as("cands"))
    val fused = subs.crossJoin(broadcast(candArr))
      .select(col("id"), ArgMinL2.argmin_l2(col("sv"), col("cands")).as("cid"))
    val reference = subs.crossJoin(broadcast(cands))
      .withColumn("d2", hofL2(col("sv"), col("cvec")))
      .groupBy("id")
      .agg(min_by(col("cid"), struct(col("d2"), col("cid"))).as("cid"))
    assert(fused.join(reference, Seq("id"))
      .filter(fused("cid") =!= reference("cid")).count() === 0)
  }

  test("ArgMinL2: a candidate with a null cvec element is skipped, unlike min_by") {
    // cid 0 would be nearest but has no distance; cid 1 is the nearest
    // candidate that has one
    val candType = "array<struct<cid: bigint, cvec: array<double>>>"
    val df = Seq((Seq(0.0, 0.0),
      Seq((0L, Seq[java.lang.Double](null, 0.0)), (1L, Seq[java.lang.Double](5.0, 5.0)),
        (2L, Seq[java.lang.Double](6.0, 6.0)))))
      .toDF("sv", "cands")
      .select(col("sv"), col("cands").cast(candType).as("cands"))
    val fused = df.select(ArgMinL2.argmin_l2(col("sv"), col("cands"))).head()
    assert(fused.getLong(0) == 1L)
    // the interpreted path agrees with the generated code
    val in = df.head()
    val interp = ArgMinL2(
      Literal.create(in.getSeq[Double](0), df.schema("sv").dataType),
      Literal.create(in.getSeq[Row](1), df.schema("cands").dataType)).eval()
    assert(interp == 1L)
    // the min_by-over-struct twin orders the null d2 first and picks cid 0
    val reference = df.select(col("sv"), explode(col("cands")).as("c"))
      .select(col("c.cid").as("cid"), hofL2(col("sv"), col("c.cvec")).as("d2"))
      .agg(min_by(col("cid"), struct(col("d2"), col("cid")))).head()
    assert(reference.getLong(0) == 0L)
  }

  test("ArgMinL2: empty candidate array yields null") {
    val df = Seq((Seq(1.0, 2.0), Seq.empty[(Long, Seq[Double])]))
      .toDF("sv", "cands")
      .select(col("sv"), col("cands").cast(
        "array<struct<cid: bigint, cvec: array<double>>>").as("cands"))
    val r: Row = df.select(ArgMinL2.argmin_l2(col("sv"), col("cands"))).head()
    assert(r.isNullAt(0))
  }
}
