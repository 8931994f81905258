package graft.tables

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.Similarity

/** Crash safety of the persisted IVF index now that it rides the
  * table layer: a torn ingest — the process dying between the staged
  * parquet write and the manifest publish — must leave the index
  * exactly as it was (no half-appended inverted list is ever
  * visible), and the retried ingest must land exactly once. */
class IvfIndexDurabilitySpec extends SparkSpec {

  test("torn IVF ingest is invisible; the retry lands exactly once") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_torn_").toString
    val e = Similarity.embeddingsBase(spark, sf)
    Similarity.buildIvfIndexFor(spark, e, Similarity.strideIds(250), 8,
      s"$dir/vectors", s"$dir/centroids", Seq("label"))
    val vectors = new SnapshotTable(spark, s"$dir/vectors")
    val vBuilt = vectors.currentVersion
    def probe() = Similarity.probeIvfIndexFor(
      Similarity.annTable(spark, s"$dir/vectors"),
      Similarity.annTable(spark, s"$dir/centroids"), Similarity.probeRowOf(e, 0L),
      Some(0L), nprobe = 2, topK = 5, Seq("label")).collect()
    val before = probe().map(_.toSeq).toSeq

    // crash EXACTLY between the data write and visibility: the hook
    // fires after appendOnce staged its parquet files, before publish
    val fresh = graft.Tables.embeddings(spark, sf).filter(col("vec_id") === 0L)
      .select(lit(777777L).as("vec_id"), col("label"), col("embedding"))
    def ingest() = Similarity.appendToIvfIndexFor(spark, s"$dir/vectors",
      s"$dir/centroids", fresh, "vec_id", "embedding", batchId = 7L, Seq("label"))
    SnapshotTable.beforePublishHook =
      () => throw new RuntimeException("simulated crash before publish")
    try {
      intercept[RuntimeException](ingest())
    } finally SnapshotTable.beforePublishHook = () => ()

    // the torn ingest published NOTHING: same version, and the probe
    // reads the exact pre-ingest rows — never a half-appended list
    assert(vectors.currentVersion == vBuilt,
      "torn ingest published a manifest")
    val mid = probe().map(_.toSeq).toSeq
    assert(mid == before, s"torn ingest leaked rows: $mid != $before")
    assert(mid.forall(_.head != 777777L))

    // the RETRY (same batch id — the caller's crash-recovery replay)
    // lands atomically and exactly once
    ingest()
    assert(vectors.currentVersion == vBuilt + 1)
    val after = probe()
    assert(after.count(_.getLong(0) == 777777L) == 1,
      after.map(_.toSeq).mkString("; "))
    assert(after.head.getLong(0) == 777777L && after.head.getDouble(2) == 1.0)

    // the full cluster claim SURVIVED the ingest (write-time stats
    // minted for the fresh files) — the probe's file pruning is intact
    val lines = SnapshotTable.manifestLinesAt(
      java.nio.file.Paths.get(s"$dir/vectors"), vectors.currentVersion)
    assert(lines.drop(2).exists(_.startsWith("#cluster=")),
      "ingest forfeited the cluster claim")
    SnapshotTable.deleteRecursively(java.nio.file.Paths.get(dir))
  }
}
