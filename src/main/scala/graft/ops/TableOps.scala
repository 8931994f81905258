package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Det, QueryPack, Tables}
import graft.tables.SnapshotTable

/** Transactional-table operators: the ACID write path that turns the
  * MERGE/CDC/IVM *query shapes* (Advanced.mergeUpsert,
  * Analytics.cdcApply/ivm) into durable table operations. The
  * reference's upsert merges into a remote API that owns atomicity
  * (reference task.ts:228-271); [[graft.tables.SnapshotTable]] owns it
  * locally: versioned parquet snapshots, manifest-per-version, an
  * atomic create-exclusive commit point, time travel, optimistic
  * concurrency.
  *
  * The oracle proof here is end-to-end THROUGH THE COMMITTED FILES:
  * each query builds a real table under a fresh temp root, commits
  * version(s), reads the committed snapshot back from its manifest,
  * aggregates it, then eagerly materializes the (bucket-bounded)
  * result so the temp table can be deleted before the driver consumes
  * the DataFrame. A hash match against DuckDB recomputing the same
  * snapshot declaratively proves the commit protocol lost/duplicated/
  * tore nothing.
  *
  * Scale: the committed data write and read-back are ordinary
  * distributed parquet jobs; the commit itself is O(1) metadata. The
  * eager collect-side step is the ≤10-row final aggregate only.
  */
object TableOps extends QueryPack {

  /** Base snapshot: (k, v) from orders. */
  private def base(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("v"))

  /** CDC change set, derived deterministically from orders so both
    * engines rebuild it bit-identically (same delta as q_cdc_apply,
    * Analytics.scala): keys ≡0 mod 97 delete; keys ≡0 mod 101 (and
    * surviving) reprice +1234.56; keys ≡0 mod 103 mirror to fresh
    * +6000000 keys as inserts. */
  private def changes(s: SparkSession, d: String): DataFrame = {
    val b = base(s, d)
    val dels = b.filter(col("k") % 97 === 0)
      .select(col("k"), col("v"), lit("d").as("op"))
    val upds = b.filter(col("k") % 101 === 0 && col("k") % 97 =!= 0)
      .select(col("k"), (col("v") + 1234.56).as("v"), lit("u").as("op"))
    val ins = b.filter(col("k") % 103 === 0)
      .select((col("k") + 6000000L).as("k"), col("v"), lit("u").as("op"))
    dels.unionAll(upds).unionAll(ins)
  }

  private def bucketAgg(df: DataFrame): DataFrame =
    df.groupBy((col("k") % 10).as("bucket"))
      .agg(count(lit(1)).as("n"), Det.dsum(col("v"), 2).as("total"))

  /** Commit v1 = base snapshot, apply the CDC change set as a v2
    * commit, then read v2 BACK FROM ITS COMMITTED MANIFEST and
    * aggregate it. Hash equality with the oracle's declarative
    * recomputation of the post-CDC snapshot is the apply+commit+read
    * round-trip proof. */
  private def tableCommit(s: SparkSession, d: String): DataFrame = {
    val t = SnapshotTable.temp(s, "graft_q_table_commit_")
    try {
      t.commit(base(s, d))
      val v2 = t.applyChanges(changes(s, d), "k", "op")
      bucketAgg(t.read(v2)).orderBy("bucket").localCheckpoint(true)
    } finally SnapshotTable.drop(t)
  }

  /** Time travel: after the v2 CDC commit, version 1 must still read
    * back EXACTLY as the original base snapshot (snapshot isolation),
    * and v2 as the post-CDC one. Output carries both versions'
    * aggregates tagged by version; the oracle recomputes both
    * declaratively. */
  private def tableTimetravel(s: SparkSession, d: String): DataFrame = {
    val t = SnapshotTable.temp(s, "graft_q_table_timetravel_")
    try {
      val v1 = t.commit(base(s, d))
      val v2 = t.applyChanges(changes(s, d), "k", "op")
      val both = bucketAgg(t.read(v1)).withColumn("version", lit(v1))
        .unionAll(bucketAgg(t.read(v2)).withColumn("version", lit(v2)))
      both.select(col("version"), col("bucket"), col("n"), col("total"))
        .orderBy("version", "bucket").localCheckpoint(true)
    } finally SnapshotTable.drop(t)
  }

  /** Incremental bucketed MERGE: v1 = orders snapshot hash-bucketed
    * into 16 key-striped directories; the q_merge_upsert change set
    * (keys ≡0 mod 7 repriced, keys ≡0 mod 13 mirrored to negative
    * inserts) is applied with [[graft.tables.SnapshotTable.mergeBucketed]],
    * which rewrites ONLY the touched buckets and carries every other
    * v1 file into the v2 manifest by path. The read-back aggregate
    * groups by the same engine-portable bucket function, so a hash
    * match proves the carried-file + rewritten-bucket composition IS
    * the merged table. */
  private def tableMergeBucketed(s: SparkSession, d: String): DataFrame = {
    val t = SnapshotTable.temp(s, "graft_q_table_merge_bucketed_")
    try {
      val b = base(s, d)
      t.commitBucketed(b, "k", 16)
      val changes = b.filter(col("k") % 7 === 0)
        .select(col("k"), (col("v") + 1234.56).as("v"))
        .unionAll(b.filter(col("k") % 13 === 0)
          .select(negate(col("k")).as("k"), col("v")))
      val v2 = t.mergeBucketed(changes, "k")
      t.read(v2)
        .groupBy(pmod(col("k"), lit(16L)).as("bucket"))
        .agg(count(lit(1)).as("n"), Det.dsum(col("v"), 2).as("total"))
        .orderBy("bucket").localCheckpoint(true)
    } finally SnapshotTable.drop(t)
  }

  /** Change feed: v1 commits the even keys, v2 APPENDS the odd keys;
    * changesBetween(1,2) reads ONLY v2's added files (manifest diff —
    * v1's data is never re-read) and must contain exactly the
    * appended rows. */
  private def tableChanges(s: SparkSession, d: String): DataFrame = {
    val t = SnapshotTable.temp(s, "graft_q_table_changes_")
    try {
      val b = base(s, d)
      t.commit(b.filter(col("k") % 2 === 0))
      t.appendOnce(b.filter(col("k") % 2 === 1), 0L)
      bucketAgg(t.changesBetween(1L, 2L)).orderBy("bucket").localCheckpoint(true)
    } finally SnapshotTable.drop(t)
  }

  /** Row-level version diff: after the bucketed MERGE commit, diff(v1,
    * v2) must classify exactly the change set — updates for the
    * repriced keys, inserts for the mirrored ones, NOTHING for the
    * carried-over rows of rewritten buckets (the file-granular feed
    * would surface those; the row-level diff must not). */
  private def tableDiff(s: SparkSession, d: String): DataFrame = {
    val t = SnapshotTable.temp(s, "graft_q_table_diff_")
    try {
      val b = base(s, d)
      t.commitBucketed(b, "k", 16)
      // k=0 is degenerate for the mirrored inserts (-0 = 0 collides
      // with its own update) — exclude it on BOTH engines so every
      // change-set key is unique and the diff classification is exact
      val changes = b.filter(col("k") % 7 === 0)
        .select(col("k"), (col("v") + 1234.56).as("v"))
        .unionAll(b.filter(col("k") % 13 === 0 && col("k") =!= 0)
          .select(negate(col("k")).as("k"), col("v")))
      t.mergeBucketed(changes, "k")
      t.diff(1L, 2L, "k")
        .groupBy("change")
        .agg(count(lit(1)).as("n_keys"),
          Det.dsum(coalesce(col("v_after"), lit(0.0))
            - coalesce(col("v_before"), lit(0.0)), 2).as("delta_value"))
        .orderBy("change").localCheckpoint(true)
    } finally SnapshotTable.drop(t)
  }

  /** ROW-level change feed through a REWRITING writer: after the
    * bucketed MERGE, [[graft.tables.SnapshotTable.rowChangesBetween]]
    * must deliver exactly the merge's row changes — updates as
    * pre/post-image pairs, mirrored keys as inserts, and NOTHING for
    * the rewritten buckets' carried-along rows (the file-granular
    * feed would surface those; the recorded changelog must not). The
    * feed reads O(changelog) — the changelog was classified inside
    * the merge's own join and committed alongside it
    * (SnapshotTableSpec asserts the read touches only `-cdc-` files). */
  private def tableChangesMerge(s: SparkSession, d: String): DataFrame = {
    val t = SnapshotTable.temp(s, "graft_q_table_changes_merge_")
    try {
      val b = base(s, d)
      t.commitBucketed(b, "k", 16)
      // same change set as q_table_diff (k=0 excluded: -0 = 0 would
      // collide with its own update)
      val changes = b.filter(col("k") % 7 === 0)
        .select(col("k"), (col("v") + 1234.56).as("v"))
        .unionAll(b.filter(col("k") % 13 === 0 && col("k") =!= 0)
          .select(negate(col("k")).as("k"), col("v")))
      t.mergeBucketed(changes, "k")
      t.rowChangesBetween(1L, 2L)
        .groupBy(col(graft.tables.SnapshotTable.ChangeTypeCol).as("change"))
        .agg(count(lit(1)).as("n"), Det.dsum(col("v"), 2).as("total"))
        .orderBy("change").localCheckpoint(true)
    } finally SnapshotTable.drop(t)
  }

  /** Incremental view maintenance ACROSS commits: the per-priority
    * aggregate of v2 is maintained as agg(v1) ⊕ agg(change feed) —
    * partial sums stay DECIMAL until the final merge so the
    * maintained result is bit-equal to the oracle's full recompute
    * over v2. The delta side reads only the appended files. */
  private def tableIvm(s: SparkSession, d: String): DataFrame = {
    val t = SnapshotTable.temp(s, "graft_q_table_ivm_")
    try {
      val b = Tables.orders(s, d).select(col("o_orderkey").as("k"),
        col("o_orderpriority").as("pri"), col("o_totalprice").as("v"))
      t.commit(b.filter(col("k") % 3 =!= 0))
      t.appendOnce(b.filter(col("k") % 3 === 0), 0L)
      def part(df: DataFrame): DataFrame =
        df.groupBy("pri").agg(count(lit(1)).as("n"),
          sum(col("v").cast(org.apache.spark.sql.types.DecimalType(18, 2))).as("dec"))
      part(t.read(1L)).unionAll(part(t.changesBetween(1L, 2L)))
        .groupBy("pri")
        .agg(sum(col("n")).as("n"), sum(col("dec")).cast("double").as("total"))
        .orderBy("pri").localCheckpoint(true)
    } finally SnapshotTable.drop(t)
  }

  /** Data-skipping range read: orders committed range-clustered on
    * the key into 16 contiguous-range files, then a key-range
    * aggregate served through [[graft.tables.SnapshotTable.readWhere]]
    * — manifest stats prune to the intersecting files before any
    * scan (SnapshotTableSpec asserts the pruning itself; the oracle
    * proves row-exactness of the pruned read + residual filter). */
  private def tableSkipping(s: SparkSession, d: String): DataFrame = {
    val t = SnapshotTable.temp(s, "graft_q_table_skipping_")
    try {
      val v1 = t.commitClustered(base(s, d), "k", 16)
      t.readWhere(v1, "k", 100L, 5000L)
        .agg(count(lit(1)).as("n"), Det.dsum(col("v"), 2).as("total"))
        .localCheckpoint(true)
    } finally SnapshotTable.drop(t)
  }

  /** TIMESTAMP-keyed data skipping: orders committed range-clustered
    * on o_orderdate AS TIMESTAMP (manifest stats = exact epoch
    * MICROS — no truncation), then a one-year range served through
    * readWhere with micros bounds. Under the session's UTC timezone
    * the midnight-aligned bounds make the micros range ≡ the oracle's
    * date BETWEEN — proving the encoded-stats path row-exact. */
  private def tableSkippingTs(s: SparkSession, d: String): DataFrame = {
    val t = SnapshotTable.temp(s, "graft_q_table_skipping_ts_")
    try {
      val df = Tables.orders(s, d).select(
        col("o_orderdate").cast("timestamp").as("ts"),
        col("o_totalprice").as("v"))
      val v1 = t.commitClustered(df, "ts", 16)
      val lo = java.time.LocalDate.parse("1994-01-01").toEpochDay * 86400000000L
      val hi = java.time.LocalDate.parse("1994-12-31").toEpochDay * 86400000000L
      t.readWhere(v1, "ts", lo, hi)
        .agg(count(lit(1)).as("n"), Det.dsum(col("v"), 2).as("total"))
        .localCheckpoint(true)
    } finally SnapshotTable.drop(t)
  }

  /** Z-ORDER 2-D data skipping: orders committed sorted by the Morton
    * interleave of (o_custkey, o_orderkey) — the N-dim z-order with
    * two keys — with per-file min/max on BOTH dimensions (`#rangen=`
    * manifest lines); a rectangle read opens only intersecting files
    * (pruning itself asserted in SnapshotTableSpec) and the residual
    * filter makes it row-exact — hash-matched against the oracle's
    * plain 2-D BETWEEN. */
  private def tableSkippingZ(s: SparkSession, d: String): DataFrame = {
    val t = SnapshotTable.temp(s, "graft_q_table_skipping_z_")
    try {
      val df = Tables.orders(s, d).select(
        col("o_custkey").as("cust"), col("o_orderkey").as("k"),
        col("o_totalprice").as("v"))
      val v1 = t.commitZOrderedN(df, Seq("cust", "k"), 16)
      t.readWhereN(v1, Seq(("cust", 100L, 800L), ("k", 1000L, 20000L)))
        .agg(count(lit(1)).as("n"), Det.dsum(col("v"), 2).as("total"))
        .localCheckpoint(true)
    } finally SnapshotTable.drop(t)
  }

  /** N-DIM Z-ORDER (3-D) data skipping: orders committed sorted by
    * the 3-way Morton interleave of (o_custkey, o_orderkey,
    * o_orderdate-micros) with per-file min/max bounds on ALL THREE
    * dimensions (`#rangen=` manifest lines); a 3-D box read opens
    * only files whose hyper-rectangle intersects (≤k-of-n pruning
    * asserted in SnapshotTableSpec) and the residual filter makes it
    * row-exact — hash-matched against the oracle's plain triple
    * BETWEEN. The shape a 100 TB event table wants when queries
    * slice on (tenant, entity, time) together: one clustered
    * dimension leaves the others' per-file spans ~full-width, the
    * interleave bounds all three. */
  private def tableSkippingZ3(s: SparkSession, d: String): DataFrame = {
    val t = SnapshotTable.temp(s, "graft_q_table_skipping_z3_")
    try {
      val df = Tables.orders(s, d).select(
        col("o_custkey").as("cust"), col("o_orderkey").as("k"),
        col("o_orderdate").cast("timestamp").as("ts"),
        col("o_totalprice").as("v"))
      val v1 = t.commitZOrderedN(df, Seq("cust", "k", "ts"), 16)
      val tsLo = java.time.LocalDate.parse("1993-01-01").toEpochDay * 86400000000L
      val tsHi = java.time.LocalDate.parse("1995-12-31").toEpochDay * 86400000000L
      t.readWhereN(v1, Seq(("cust", 100L, 800L), ("k", 1000L, 20000L),
        ("ts", tsLo, tsHi)))
        .agg(count(lit(1)).as("n"), Det.dsum(col("v"), 2).as("total"))
        .localCheckpoint(true)
    } finally SnapshotTable.drop(t)
  }

  /** Compaction through the gate: an append chain (evens, then odds)
    * leaves a multi-file manifest; compact(4) commits a
    * content-identical rewrite as the new current version, and the
    * aggregate of THAT version must hash-match the full table — the
    * small-file-accretion remedy proven through committed files. */
  private def tableCompact(s: SparkSession, d: String): DataFrame = {
    val t = SnapshotTable.temp(s, "graft_q_table_compact_")
    try {
      val b = base(s, d)
      t.commit(b.filter(col("k") % 2 === 0))
      t.appendOnce(b.filter(col("k") % 2 === 1), 0L)
      val v = t.compact(4)
      bucketAgg(t.read(v)).orderBy("bucket").localCheckpoint(true)
    } finally SnapshotTable.drop(t)
  }

  /** The table-as-stream proof through the gate: v1 commits the even
    * keys, a second commit appends the odds; a REAL Structured
    * Streaming query (`readStream.format("graft-table")`, offset =
    * committed version, Trigger.AvailableNow) drains the commit log
    * into a complete-mode aggregate. The hash match against the
    * oracle's full-table aggregate proves the source delivered every
    * committed row exactly once — no file lost between offsets, none
    * double-planned. */
  private val streamRuns = new java.util.concurrent.atomic.AtomicLong(0L)
  private def tableStream(s: SparkSession, d: String): DataFrame = {
    val t = SnapshotTable.temp(s, "graft_q_table_stream_")
    val sink = s"graft_table_stream_sink_${streamRuns.incrementAndGet()}"
    try {
      val b = base(s, d)
      t.commit(b.filter(col("k") % 2 === 0))
      t.appendOnce(b.filter(col("k") % 2 === 1), 0L)
      val q = s.readStream.format("graft-table").option("path", t.root).load()
        .groupBy((col("k") % 10).as("bucket"))
        .agg(count(lit(1)).as("n"), Det.dsum(col("v"), 2).as("total"))
        .writeStream.format("memory").queryName(sink).outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      val out = s.table(sink).orderBy("bucket").localCheckpoint(true)
      s.catalog.dropTempView(sink)
      out
    } finally SnapshotTable.drop(t)
  }

  /** Incremental MV maintenance THROUGH the gate: a per-priority
    * rollup over a SnapshotTable is registered as an incrementally
    * maintained view (partial state = per-key count + exact DECIMAL
    * sum), the table then gains an append commit, and
    * [[graft.plans.MaterializedViews.refresh]] folds ONLY the change
    * feed into the state (mode and delta-scaled read cost asserted in
    * MaterializedViewsIncSpec). The returned result is the USER'S
    * fresh aggregate construction — transparently answered by the
    * refreshed materialization — and the oracle recomputes the full
    * post-append aggregate declaratively: a hash match proves the
    * maintained state ≡ the recompute. */
  private def mvIncremental(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val t = SnapshotTable.temp(s, "graft_q_mv_inc_")
    val basePath = s"${sys.props("java.io.tmpdir")}/graft_mv_inc_" +
      java.util.UUID.randomUUID().toString.take(8)
    val b = Tables.orders(s, d).select(col("o_orderkey").as("k"),
      col("o_orderpriority").as("pri"), col("o_totalprice").as("v"))
    try {
      t.commit(b.filter(col("k") % 3 =!= 0))
      val fp = graft.plans.MaterializedViews.registerIncremental(t, basePath)(
        query = df => df.groupBy("pri")
          .agg(count(lit(1)).as("n"), Det.dsum(col("v"), 2).as("total")),
        partial = df => df.groupBy("pri").agg(count(lit(1)).as("n"),
          sum(col("v").cast(DecimalType(18, 2))).cast(DecimalType(38, 2)).as("dec")),
        combine = df => df.groupBy("pri").agg(sum(col("n")).as("n"),
          sum(col("dec")).cast(DecimalType(38, 2)).as("dec")),
        finalize = df => df.select(col("pri"), col("n"),
          col("dec").cast("double").as("total")))
      t.appendOnce(b.filter(col("k") % 3 === 0), 0L)
      val res = graft.plans.MaterializedViews.refresh(fp)
        .getOrElse(throw new IllegalStateException("not an incremental view"))
      require(res.mode == "incremental",
        s"append-only refresh must be incremental, was ${res.mode}")
      // the USER's query, freshly constructed over the current version
      val out = t.read().groupBy("pri")
        .agg(count(lit(1)).as("n"), Det.dsum(col("v"), 2).as("total"))
        .orderBy("pri").localCheckpoint(true)
      graft.plans.MaterializedViews.deregister(res.fingerprint)
      out
    } finally SnapshotTable.drop(t)
  }

  /** RETRACTION-based incremental view maintenance (IVM through
    * DELETES and UPDATES): the incremental view registers a
    * `partialDelta` that folds the SIGNED row-level change feed —
    * delete/update_preimage rows subtract from the keyed count/sum
    * state, insert/update_postimage rows add — so a refresh across a
    * DV DELETE and a DV UPDATE costs O(state + changelog), never the
    * table (the in-query requires assert BOTH the mode and that no
    * base data file was read). The gated output is the refreshed
    * VIEW's own materialization, so the DuckDB hash checks the IVM
    * arithmetic itself, not a recompute. */
  /** DELTA-JOIN incremental maintenance of a JOIN view (the classic
    * "materialized star rollup stays fresh" story): the view is
    * fact ⋈ dim grouped by a dim attribute, and refresh folds ONLY
    * Δfact ⋈ dim into the keyed partial state — the broadcast-sized
    * dim joins each CHANGE batch, never the fact table again. An
    * append, a DV delete and an update all land before the one
    * refresh; the signed feed (retraction IVM) carries the join
    * through all three at O(state + Δ ⋈ dim). In-query requires pin
    * the mode to `incremental-cdc` and prove no v1 fact file was
    * read; the gated rows are the refreshed view's own
    * materialization, so the hash checks the delta-join arithmetic
    * itself against DuckDB's from-scratch recompute. */
  private def mvIncJoin(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val t = SnapshotTable.temp(s, "graft_q_mv_inc_join_")
    val basePath = s"${sys.props("java.io.tmpdir")}/graft_mv_inc_join_" +
      java.util.UUID.randomUUID().toString.take(8)
    val fact = Tables.orders(s, d).select(col("o_orderkey").as("k"),
      col("o_custkey").as("c"), col("o_totalprice").as("v"))
    val dim = Tables.customer(s, d)
      .select(col("c_custkey").as("ck"), col("c_mktsegment").as("seg"))
    def dec(cc: org.apache.spark.sql.Column) =
      cc.cast(DecimalType(18, 2)).cast(DecimalType(38, 2))
    def joined(df: DataFrame) =
      df.join(broadcast(dim), col("c") === col("ck"))
    try {
      t.commit(fact)
      val sign = when(col(SnapshotTable.ChangeTypeCol)
        .isin("insert", "update_postimage"), lit(1L)).otherwise(lit(-1L))
      val fp = graft.plans.MaterializedViews.registerIncremental(t, basePath)(
        query = df => joined(df).groupBy("seg")
          .agg(count(lit(1)).as("n"), Det.dsum(col("v"), 2).as("total")),
        partial = df => joined(df).groupBy("seg")
          .agg(count(lit(1)).as("n"), sum(dec(col("v"))).as("dec")),
        combine = df => df.groupBy("seg").agg(sum(col("n")).as("n"),
          sum(col("dec")).cast(DecimalType(38, 2)).as("dec")),
        finalize = df => df.filter(col("n") > 0).select(col("seg"), col("n"),
          col("dec").cast("double").as("total")),
        partialDelta = Some(cdc => joined(cdc).groupBy("seg")
          .agg(sum(sign).as("n"), sum(sign * dec(col("v"))).as("dec"))))
      t.appendOnce(fact.filter(col("k") % 100 === 0)
        .withColumn("k", col("k") + 6000000L), 0L)
      t.delete(col("k") % 7 === 0)
      t.update(col("k") % 11 === 0 && col("k") % 7 =!= 0,
        Map("v" -> (col("v") + 100.0)))
      val res = graft.plans.MaterializedViews.refresh(fp)
        .getOrElse(throw new IllegalStateException("not an incremental view"))
      require(res.mode == "incremental-cdc",
        s"join-view refresh must fold the signed change feed, was ${res.mode}")
      require(!res.inputFiles.exists(f => f.contains("/data/v1-")),
        s"delta-join refresh re-scanned the fact table: ${res.inputFiles.mkString(",")}")
      val viewPath = graft.plans.MaterializedViews
        .materializationPath(res.fingerprint)
        .getOrElse(throw new IllegalStateException("refreshed view not registered"))
      val out = s.read.parquet(viewPath).orderBy("seg").localCheckpoint(true)
      graft.plans.MaterializedViews.deregister(res.fingerprint)
      out
    } finally SnapshotTable.drop(t)
  }

  private def mvIncDml(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val t = SnapshotTable.temp(s, "graft_q_mv_inc_dml_")
    val basePath = s"${sys.props("java.io.tmpdir")}/graft_mv_inc_dml_" +
      java.util.UUID.randomUUID().toString.take(8)
    val b = Tables.orders(s, d).select(col("o_orderkey").as("k"),
      col("o_orderpriority").as("pri"), col("o_totalprice").as("v"))
    def dec(c: org.apache.spark.sql.Column) =
      c.cast(DecimalType(18, 2)).cast(DecimalType(38, 2))
    try {
      t.commit(b)
      val sign = when(col(SnapshotTable.ChangeTypeCol)
        .isin("insert", "update_postimage"), lit(1L)).otherwise(lit(-1L))
      val fp = graft.plans.MaterializedViews.registerIncremental(t, basePath)(
        query = df => df.groupBy("pri")
          .agg(count(lit(1)).as("n"), Det.dsum(col("v"), 2).as("total")),
        partial = df => df.groupBy("pri")
          .agg(count(lit(1)).as("n"), sum(dec(col("v"))).as("dec")),
        combine = df => df.groupBy("pri").agg(sum(col("n")).as("n"),
          sum(col("dec")).cast(DecimalType(38, 2)).as("dec")),
        finalize = df => df.filter(col("n") > 0).select(col("pri"), col("n"),
          col("dec").cast("double").as("total")),
        partialDelta = Some(cdc => cdc.groupBy("pri")
          .agg(sum(sign).as("n"), sum(sign * dec(col("v"))).as("dec"))))
      t.delete(col("k") % 7 === 0)
      t.update(col("k") % 11 === 0 && col("k") % 7 =!= 0,
        Map("v" -> (col("v") + 100.0)))
      val res = graft.plans.MaterializedViews.refresh(fp)
        .getOrElse(throw new IllegalStateException("not an incremental view"))
      require(res.mode == "incremental-cdc",
        s"DML refresh must fold the signed change feed, was ${res.mode}")
      require(!res.inputFiles.exists(f => f.contains("/data/v1-")),
        s"IVM refresh read a base data file: ${res.inputFiles.mkString(",")}")
      // the gated rows are the refreshed VIEW's own materialization
      val viewPath = graft.plans.MaterializedViews
        .materializationPath(res.fingerprint)
        .getOrElse(throw new IllegalStateException("refreshed view not registered"))
      val out = s.read.parquet(viewPath).orderBy("pri").localCheckpoint(true)
      graft.plans.MaterializedViews.deregister(res.fingerprint)
      out
    } finally SnapshotTable.drop(t)
  }

  /** Table→table streaming pipeline through the gate: source table =
    * commit(evens) + append(odds); a Structured Streaming query reads
    * its commit log (`graft-table` source), transforms, and lands in
    * a SECOND table via the `graft-table` SINK — executor-side part
    * files + one metadata commit per epoch, exactly-once by the
    * (queryId, epoch) manifest ledger. The destination table's
    * committed content is aggregated and hash-matched against the
    * oracle's declarative transform of the full input. */
  private def tableStreamSink(s: SparkSession, d: String): DataFrame = {
    val t1 = SnapshotTable.temp(s, "graft_q_tss_src_")
    val t2 = SnapshotTable.temp(s, "graft_q_tss_dst_")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_q_tss_ckpt_")
    try {
      val b = base(s, d)
      t1.commit(b.filter(col("k") % 2 === 0))
      t1.appendOnce(b.filter(col("k") % 2 === 1), 0L)
      val q = s.readStream.format("graft-table").option("path", t1.root).load()
        .filter(col("k") % 3 === 0)
        .withColumn("v", col("v") * 2)
        .writeStream.format("graft-table").option("path", t2.root)
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      bucketAgg(t2.read()).orderBy("bucket").localCheckpoint(true)
    } finally {
      SnapshotTable.drop(t1); SnapshotTable.drop(t2)
      graft.tables.SnapshotTable.deleteRecursively(ckpt)
    }
  }

  /** Row-level DELETE via DELETION VECTORS through the gate: v1
    * commits the orders snapshot; two STACKED deletes tombstone keys
    * ≡0 mod 7 (v2) then rows with v > 300000 (v3) — neither rewrites
    * a single data file (asserted in SnapshotTableSpec; here the
    * oracle owns the semantics). The result unions the post-delete
    * aggregate with the TIME-TRAVELED v1 aggregate, so the hash match
    * proves both that the DV anti-join removed exactly the matching
    * rows and that snapshot isolation kept v1 intact underneath the
    * tombstones. */
  private def tableDeleteDv(s: SparkSession, d: String): DataFrame = {
    val t = SnapshotTable.temp(s, "graft_q_table_delete_dv_")
    try {
      val v1 = t.commit(base(s, d))
      t.delete(col("k") % 7 === 0)
      val v3 = t.delete(col("v") > 300000.0)
      bucketAgg(t.read(v3)).withColumn("phase", lit("after"))
        .unionAll(bucketAgg(t.read(v1)).withColumn("phase", lit("base")))
        .select(col("phase"), col("bucket"), col("n"), col("total"))
        .orderBy("phase", "bucket").localCheckpoint(true)
    } finally SnapshotTable.drop(t)
  }

  /** Schema EVOLUTION through the gate: v1 commits (k, v) for the
    * even keys; v2 appends the odd keys WITH a new `flag` column via
    * [[graft.tables.SnapshotTable.appendEvolved]] — a metadata + new-
    * data commit that rewrites no v1 file. The read-back aggregate
    * sums `flag`, which is NULL for every v1 row (parquet by-name
    * resolution against the evolved manifest schema), so the hash
    * match proves old files surface the evolved column as NULL and
    * new files carry it — the oracle recomputes the same relation
    * declaratively with a CASE. */
  private def tableEvolve(s: SparkSession, d: String): DataFrame = {
    val t = SnapshotTable.temp(s, "graft_q_table_evolve_")
    try {
      val b = base(s, d)
      t.commit(b.filter(col("k") % 2 === 0))
      t.appendEvolved(b.filter(col("k") % 2 === 1)
        .withColumn("flag", col("k") % 3), 0L)
      t.read()
        .groupBy((col("k") % 10).as("bucket"))
        .agg(count(lit(1)).as("n"), Det.dsum(col("v"), 2).as("total"),
          sum(col("flag")).as("flags"))
        .orderBy("bucket").localCheckpoint(true)
    } finally SnapshotTable.drop(t)
  }

  /** COLUMN MAPPING end-to-end (rename without rewrite): v1 commits
    * (k, v); `renameColumn(v → price)` is a METADATA-ONLY commit (the
    * field's physical name pins to what the files say); an append
    * under the NEW name lands beside the pre-rename files; a DV
    * delete keyed on the renamed column tombstones across BOTH eras.
    * The read-back aggregate references only `price`, so the hash
    * match proves pre-rename files resolve through the mapping, the
    * post-rename append interleaves, and deletes see one coherent
    * column — the oracle recomputes the final relation declaratively
    * with the rename applied from the start. */
  private def tableEvolveRename(s: SparkSession, d: String): DataFrame = {
    val t = SnapshotTable.temp(s, "graft_q_table_evolve_rename_")
    try {
      val b = base(s, d)
      t.commit(b)
      t.renameColumn("v", "price")
      t.appendOnce(b.filter(col("k") % 103 === 0)
        .select((col("k") + 6000000L).as("k"), (col("v") + 1000.0).as("price")), 0L)
      t.delete(col("k") % 97 === 0)
      t.read()
        .groupBy((col("k") % 10).as("bucket"))
        .agg(count(lit(1)).as("n"), Det.dsum(col("price"), 2).as("total"))
        .orderBy("bucket").localCheckpoint(true)
    } finally SnapshotTable.drop(t)
  }

  /** TYPE WIDENING end-to-end (int→long without rewrite): v1 commits
    * the key as INT; `widenColumn(k → BIGINT)` is a METADATA-ONLY
    * commit; an append lands keys beyond the int range beside the
    * narrow-era files. The read-back aggregate groups over the widened
    * key, so the hash match proves pre-widen files promote up on
    * decode and both eras interleave — the oracle recomputes the final
    * relation declaratively with 64-bit keys from the start. */
  private def tableEvolveWiden(s: SparkSession, d: String): DataFrame = {
    val t = SnapshotTable.temp(s, "graft_q_table_evolve_widen_")
    try {
      val b = base(s, d)
      t.commit(b.select(col("k").cast("int").as("k"), col("v")))
      t.widenColumn("k", org.apache.spark.sql.types.LongType)
      t.appendOnce(b.filter(col("k") % 103 === 0)
        .select((col("k") + 6000000000L).as("k"), col("v")), 0L)
      t.read()
        .groupBy((col("k") % 10).as("bucket"))
        .agg(count(lit(1)).as("n"), Det.dsum(col("v"), 2).as("total"))
        .orderBy("bucket").localCheckpoint(true)
    } finally SnapshotTable.drop(t)
  }

  /** STRING-key data skipping: customers committed range-clustered on
    * `c_name` with truncated byte-wise min/max bounds per file; a
    * name-range read prunes files by those bounds (pruning itself
    * asserted in SnapshotTableSpec) and the residual filter makes it
    * row-exact — hash-matched against the oracle's plain BETWEEN.
    * Unsigned-byte bound order == Spark's binary UTF8String order ==
    * DuckDB's default binary collation, so all three agree. */
  private def tableSkippingStr(s: SparkSession, d: String): DataFrame = {
    val t = SnapshotTable.temp(s, "graft_q_table_skipping_str_")
    try {
      val df = Tables.customer(s, d)
        .select(col("c_name").as("name"), col("c_acctbal").as("v"))
      val v1 = t.commitClusteredString(df, "name", 8)
      t.readWhereString(v1, "name", "Customer#000000200", "Customer#000000599")
        .agg(count(lit(1)).as("n"), Det.dsum(col("v"), 2).as("total"))
        .localCheckpoint(true)
    } finally SnapshotTable.drop(t)
  }

  /** BLOOM point-lookup skipping through the gate: orders committed
    * hash-partitioned with per-file key Bloom sidecars; three point
    * lookups — the data's own min and max key (derived identically by
    * both engines) and a guaranteed-absent key — each via
    * [[graft.tables.SnapshotTable.readWhereEq]], which probes the
    * sidecars driver-side and opens only may-contain files (the
    * pruning bound itself is asserted in SnapshotTableSpec). The
    * oracle recomputes the three lookups declaratively with scalar
    * subqueries. */
  private def tableBloom(s: SparkSession, d: String): DataFrame = {
    val t = SnapshotTable.temp(s, "graft_q_table_bloom_")
    try {
      val b = base(s, d)
      val v = t.commitBloom(b, "k", 16)
      val bounds = b.agg(min(col("k")).as("lo"), max(col("k")).as("hi")).head()
      // empty input: the oracle's scalar subqueries go NULL (no rows
      // match k = NULL); probe an absent key to mirror that
      def bound(i: Int) = if (bounds.isNullAt(i)) -1L else bounds.getLong(i)
      def look(tag: String, key: Long) =
        t.readWhereEq(v, "k", key)
          .agg(count(lit(1)).as("n"), Det.dsum(col("v"), 2).as("total"))
          .withColumn("probe", lit(tag))
      look("absent", -1L)
        .unionAll(look("max", bound(1)))
        .unionAll(look("min", bound(0)))
        .select(col("probe"), col("n"), col("total"))
        .orderBy("probe").localCheckpoint(true)
    } finally SnapshotTable.drop(t)
  }

  /** CAPSTONE: the full lakehouse lifecycle through one gate. v1
    * commits the even keys; v2 appends the odds WITH a new `flag`
    * column (schema evolution); v3 tombstones keys ≡0 mod 7 via
    * deletion vectors (no rewrite); v4 compacts — folding the
    * tombstones in and materializing the evolved schema — and the
    * COMPACTED version's aggregate is what hashes against the
    * oracle's declarative recomputation. Every mechanism the table
    * layer owns (atomic commit, evolution, DV delete, rewrite,
    * read-back) has to compose correctly for this to match. */
  private def tableLifecycle(s: SparkSession, d: String): DataFrame = {
    val t = SnapshotTable.temp(s, "graft_q_table_lifecycle_")
    try {
      val b = base(s, d)
      t.commit(b.filter(col("k") % 2 === 0))
      t.appendEvolved(b.filter(col("k") % 2 === 1)
        .withColumn("flag", col("k") % 3), 0L)
      t.delete(col("k") % 7 === 0)
      val v4 = t.compact(4)
      t.read(v4)
        .groupBy((col("k") % 10).as("bucket"))
        .agg(count(lit(1)).as("n"), Det.dsum(col("v"), 2).as("total"),
          sum(col("flag")).as("flags"))
        .orderBy("bucket").localCheckpoint(true)
    } finally SnapshotTable.drop(t)
  }

  /** RESTORE through the gate: v1 commits the even keys; v2 appends
    * the odds; v3 tombstones keys ≡0 mod 7 (deletion vectors); v4 =
    * restore(v1) — one metadata-only commit, nothing read or
    * rewritten. The result tags the restored CURRENT read alongside
    * the v3 time-travel read, so one hash proves restore rolled the
    * content back exactly AND left the rolled-over version intact. */
  private def tableRestore(s: SparkSession, d: String): DataFrame = {
    val t = SnapshotTable.temp(s, "graft_q_table_restore_")
    try {
      val b = base(s, d)
      val v1 = t.commit(b.filter(col("k") % 2 === 0))
      t.appendOnce(b.filter(col("k") % 2 === 1), 0L)
      val v3 = t.delete(col("k") % 7 === 0)
      t.restore(v1)
      bucketAgg(t.read()).withColumn("phase", lit("restored"))
        .unionAll(bucketAgg(t.read(v3)).withColumn("phase", lit("pre")))
        .select(col("phase"), col("bucket"), col("n"), col("total"))
        .orderBy("phase", "bucket").localCheckpoint(true)
    } finally SnapshotTable.drop(t)
  }

  /** SHALLOW CLONE through the gate: the source commits the base
    * snapshot; a zero-copy clone forks it (metadata only — the spec
    * asserts no data files under the clone's root); the CLONE then
    * appends shifted keys. Result = clone aggregate ∪ source
    * aggregate, so the hash proves the clone sees the source's data
    * by reference AND its divergence never leaked back. */
  private def tableClone(s: SparkSession, d: String): DataFrame = {
    val src = SnapshotTable.temp(s, "graft_q_table_clone_src_")
    var cl: SnapshotTable = null
    try {
      val b = base(s, d)
      src.commit(b)
      val dest = java.nio.file.Files.createTempDirectory("graft_q_table_clone_dst_")
      cl = src.shallowCloneTo(dest.toString)
      cl.appendOnce(b.select((col("k") + 6000000L).as("k"), col("v")), 0L)
      bucketAgg(cl.read()).withColumn("side", lit("clone"))
        .unionAll(bucketAgg(src.read()).withColumn("side", lit("src")))
        .select(col("side"), col("bucket"), col("n"), col("total"))
        .orderBy("side", "bucket").localCheckpoint(true)
    } finally {
      SnapshotTable.drop(src)
      if (cl != null) SnapshotTable.drop(cl)
    }
  }

  /** METADATA-ONLY aggregate through the gate: a clustered commit,
    * then COUNT(*)/MIN/MAX answered from the manifest's per-file
    * stats via [[graft.tables.SnapshotTable.metaAgg]] — no data file
    * opened (the zero-IO claim itself is proven destructively in
    * SnapshotTableSpec: the data dir is deleted and metaAgg still
    * answers). The oracle recomputes the three aggregates by
    * scanning, so the hash proves the manifest stats are exact. */
  private def tableMetaAgg(s: SparkSession, d: String): DataFrame = {
    val t = SnapshotTable.temp(s, "graft_q_table_meta_agg_")
    try {
      val v = t.commitClustered(base(s, d), "k", 8)
      val (n, lo, hi) = t.metaAgg(v)
      s.range(1).select(
        lit(n).as("n"),
        lit(lo.map(java.lang.Long.valueOf).orNull).cast("long").as("lo"),
        lit(hi.map(java.lang.Long.valueOf).orNull).cast("long").as("hi"))
        .localCheckpoint(true)
    } finally SnapshotTable.drop(t)
  }

  /** METADATA-ONLY aggregate UNDER DELETION VECTORS: after a DV
    * delete on the clustered table — which re-mints the touched
    * files' `#range` bounds over their live remainder and records
    * per-file tombstone counts — COUNT(*)/MIN/MAX still answer purely
    * from the manifest (zero data files opened; the destructive proof
    * deletes the data dir in DvMaintenanceSpec). The delete removes
    * the global minimum's whole neighborhood, so a stale commit-time
    * bound would hash-mismatch: the oracle recomputes over the
    * filtered relation. */
  private def tableMetaAggDv(s: SparkSession, d: String): DataFrame = {
    val t = SnapshotTable.temp(s, "graft_q_table_meta_agg_dv_")
    try {
      t.commitClustered(base(s, d), "k", 8)
      t.delete(col("k") < 500L || col("k") % 7 === 0)
      // the formerly-forfeit paths, now covered: an APPEND mints
      // write-time #range/#sum for its fresh files (full claim
      // survives), and an UPDATE that rewrites keys re-mints the
      // touched files' bounds over their live remainder while its
      // post-images mint their own — the appended block holds the
      // new MAX and the update moves keys past it, so any stale or
      // missing stat hash-mismatches the oracle's recompute
      t.appendOnce(base(s, d).filter(col("k") % 13 === 0)
        .select((col("k") + 20000000L).as("k"), col("v")), 0L)
      val v = t.update(col("k") % 997 === 0, Map("k" -> (col("k") + 30000000L)))
      val (n, lo, hi) = t.metaAgg(v)
      s.range(1).select(
        lit(n).as("n"),
        lit(lo.map(java.lang.Long.valueOf).orNull).cast("long").as("lo"),
        lit(hi.map(java.lang.Long.valueOf).orNull).cast("long").as("hi"))
        .localCheckpoint(true)
    } finally SnapshotTable.drop(t)
  }

  /** METADATA-ONLY SUM under deletion vectors: commitClustered mints
    * per-file `#sum=` (key sum + non-null count) alongside `#range=`;
    * the DV delete re-mints the touched files' sums over their live
    * remainder in the same job as the bounds. [[SnapshotTable.metaSum]]
    * then answers SUM(key) — and with metaCount, exact AVG — with
    * ZERO data IO (DvMaintenanceSpec carries the destructive
    * data-dir-deleted proof and the SQL pushdown plan guard). The
    * delete removes whole neighborhoods plus a modular comb, so any
    * stale per-file sum would hash-mismatch the oracle's recompute. */
  private def tableMetaSum(s: SparkSession, d: String): DataFrame = {
    val t = SnapshotTable.temp(s, "graft_q_table_meta_sum_")
    try {
      t.commitClustered(base(s, d), "k", 8)
      t.delete(col("k") % 7 === 0 || col("k") < 500L)
      // append + key-rewriting update (the formerly-forfeit paths):
      // per-file #sum lines mint for fresh files and re-mint for
      // touched ones, so the zero-IO SUM stays exact through the
      // whole write sequence — moved key mass would hash-mismatch
      t.appendOnce(base(s, d).filter(col("k") % 13 === 0)
        .select((col("k") + 20000000L).as("k"), col("v")), 0L)
      val v = t.update(col("k") % 997 === 0, Map("k" -> (col("k") + 30000000L)))
      val (sm, nn) = t.metaSum(v)
      s.range(1).select(
        lit(sm.map(java.lang.Long.valueOf).orNull).cast("long").as("s"),
        lit(nn).as("nn"))
        .localCheckpoint(true)
    } finally SnapshotTable.drop(t)
  }

  /** Row-level UPDATE via deletion vectors through the gate: v1
    * commits the base; v2 doubles `v` on keys ≡0 mod 5 — tombstone +
    * post-image append, no file rewritten (asserted in
    * SnapshotTableSpec; here the oracle owns the semantics). The
    * result unions the post-update aggregate with the time-traveled
    * v1 aggregate: one hash proves the update hit exactly the
    * matching rows AND snapshot isolation held underneath. */
  private def tableUpdateDv(s: SparkSession, d: String): DataFrame = {
    val t = SnapshotTable.temp(s, "graft_q_table_update_dv_")
    try {
      val v1 = t.commit(base(s, d))
      val v2 = t.update(col("k") % 5 === 0, Map("v" -> (col("v") * 2)))
      bucketAgg(t.read(v2)).withColumn("phase", lit("after"))
        .unionAll(bucketAgg(t.read(v1)).withColumn("phase", lit("base")))
        .select(col("phase"), col("bucket"), col("n"), col("total"))
        .orderBy("phase", "bucket").localCheckpoint(true)
    } finally SnapshotTable.drop(t)
  }

  /** Commit-time EXPECTATIONS through the gate: the base snapshot
    * commits behind two named constraints; violators land in the
    * quarantine side output tagged with the FIRST failed constraint
    * (sorted-name order — deterministic). Result = kept aggregate ∪
    * per-constraint quarantine aggregates: one hash proves the split
    * is exact (nothing lost, nothing double-counted) and the tagging
    * rule matches the oracle's CASE. */
  private def tableExpect(s: SparkSession, d: String): DataFrame = {
    val t = SnapshotTable.temp(s, "graft_q_table_expect_")
    try {
      val v = t.commitExpect(base(s, d), Map(
        "cap"     -> (col("v") < 300000.0),
        "key_mod" -> (col("k") % 11 =!= 0)))
      val kept = t.read(v)
        .agg(count(lit(1)).as("n"), Det.dsum(col("v"), 2).as("total"))
        .withColumn("phase", lit("kept"))
      val quar = t.quarantine(v)
        .groupBy(col(SnapshotTable.ViolatedCol).as("phase"))
        .agg(count(lit(1)).as("n"), Det.dsum(col("v"), 2).as("total"))
      kept.select(col("phase"), col("n"), col("total"))
        .unionAll(quar.select(col("phase"), col("n"), col("total")))
        .orderBy("phase").localCheckpoint(true)
    } finally SnapshotTable.drop(t)
  }

  /** PARTIAL OPTIMIZE (bin-packing) through the gate: one large
    * commit plus three small appends accrete a mixed layout, a DV
    * delete tombstones across all of them, then [[SnapshotTable
    * .compactSmall]] folds ONLY the sub-threshold files (tombstones
    * folding in) while the large file is carried BY PATH — in-query
    * requires prove the carry and the file-count drop, and the oracle
    * hash proves the O(small)-cost rewrite lost nothing. The verb a
    * streaming-ingest table runs continuously at 100 TB, where a full
    * compact would dwarf the ingest. */
  private def tableCompactSmall(s: SparkSession, d: String): DataFrame = {
    val t = SnapshotTable.temp(s, "graft_q_table_compact_small_")
    try {
      val b = base(s, d)
      t.commit(b.filter(col("k") % 4 =!= 3).coalesce(1))
      t.appendOnce(b.filter(col("k") % 12 === 3).coalesce(1), 0L)
      t.appendOnce(b.filter(col("k") % 12 === 7).coalesce(1), 1L)
      t.appendOnce(b.filter(col("k") % 12 === 11).coalesce(1), 2L)
      // sizes from the pre-delete snapshot: 4 plain data files (the
      // delete only adds DV sidecars, which a DV'd read's inputFiles
      // would also list — filtered below via the -dv- dir marker)
      val before = t.read().inputFiles.toSeq.map { u =>
        val p = java.nio.file.Paths.get(java.net.URI.create(u))
        p -> java.nio.file.Files.size(p)
      }
      require(before.size == 4, s"expected 4 files, got ${before.size}")
      val (bigPath, bigSize) = before.maxBy(_._2)
      t.delete(col("k") % 9 === 0)
      val v = t.compactSmall(bigSize, 1)
      // the layout proofs need a real size spread — on an EMPTY
      // fixture (empty-input contract) all four files are identical
      // stubs, nothing is sub-threshold, and compactSmall correctly
      // declines; the content hash below still gates that case
      if (bigSize > before.map(_._2).min) {
        val after = t.read(v).inputFiles.toSeq
          .map(u => java.nio.file.Paths.get(java.net.URI.create(u)))
          .filterNot(_.toString.contains("-dv-"))
        require(after.contains(bigPath),
          "the over-threshold file must be carried by path, not rewritten")
        require(after.size == 2,
          s"3 small files should fold into 1 (plus the carried big), got ${after.size}")
      }
      t.read(v).groupBy((col("k") % 10).as("bucket"))
        .agg(count(lit(1)).as("n"), Det.dsum(col("v"), 2).as("total"))
        .orderBy("bucket").localCheckpoint(true)
    } finally SnapshotTable.drop(t)
  }

  /** Persistent CHECK constraints through the gate (Delta's
    * `ALTER TABLE ADD CONSTRAINT`): v1 commits the even-key half,
    * `v_pos` (v > 0) lands as a metadata-only commit with add-time
    * validation, a valid append passes, a NULL-price row passes (SQL
    * CHECK: only FALSE violates), a negated-price append and a
    * negating UPDATE are both REJECTED inside their own write jobs
    * (nothing publishes — in-query requires prove both rejections
    * fired and the version never moved), and after [[dropConstraint]]
    * the previously-rejected rows land. One hash over the final
    * relation proves enforcement was row-exact on every path. */
  private def tableConstraint(s: SparkSession, d: String): DataFrame = {
    val t = SnapshotTable.temp(s, "graft_q_table_constraint_")
    try {
      def chainHas(e: Throwable, needle: String): Boolean = {
        var c: Throwable = e
        while (c != null) {
          if (Option(c.getMessage).exists(_.contains(needle))) return true
          c = c.getCause
        }
        false
      }
      def rejected(f: => Unit): Boolean =
        try { f; false }
        catch { case e: Throwable =>
          if (chainHas(e, "CHECK constraint")) true else throw e
        }
      val b = base(s, d)
      // rejection proofs need rows that actually violate — on an
      // EMPTY fixture (the empty-input contract) every gate passes
      // vacuously, so the requires only arm when data exists
      val hasRows = !b.isEmpty
      t.commit(b.filter(col("k") % 2 === 0))
      t.addConstraint("v_pos", "v > 0.0")
      require(t.constraints == Map("v_pos" -> "v > 0.0"),
        s"constraint not stored: ${t.constraints}")
      // adding a constraint existing rows violate must refuse
      if (hasRows) {
        require(rejected(t.addConstraint("impossible", "v < 0.0")),
          "add-time validation missed")
        require(!t.constraints.contains("impossible"), "invalid constraint stored")
      }
      t.appendOnce(b.filter(col("k") % 2 === 1), 0L) // valid
      t.appendOnce(s.range(1).select(lit(9000000L).as("k"),
        lit(null).cast("double").as("v")), 1L) // NULL passes CHECK
      val vBefore = t.currentVersion
      if (hasRows) {
        require(rejected {
          t.appendOnce(b.filter(col("k") % 3 === 0)
            .withColumn("v", col("v") * -1), 2L)
        }, "violating append was not rejected")
        require(rejected {
          t.update(col("k") % 11 === 0, Map("v" -> (col("v") * -1)))
        }, "violating update was not rejected")
        require(t.currentVersion == vBefore,
          "a rejected write must publish nothing")
      }
      t.update(col("k") % 7 === 0, Map("v" -> (col("v") + lit(1.0)))) // valid
      t.dropConstraint("v_pos")
      require(t.constraints.isEmpty, "dropConstraint left metadata behind")
      t.appendOnce(b.filter(col("k") % 1000 === 0)
        .withColumn("v", col("v") * -1), 3L) // passes now
      t.read().groupBy((col("k") % 10).as("bucket"))
        .agg(count(lit(1)).as("n"), Det.dsum(col("v"), 2).as("total"))
        .orderBy("bucket").localCheckpoint(true)
    } finally SnapshotTable.drop(t)
  }

  /** OPTIMIZE ZORDER through the gate: an append chain accretes small
    * files, a DV delete stacks tombstones, then optimizeZOrderedN
    * rewrites the LIVE rows z-clustered on the two keys (cust, k) —
    * folding the tombstones in, coalescing files, and minting 2-D
    * `#rangen=` skipping stats.
    * The gated read is a rectangle over the optimized version, so the
    * hash proves the maintenance rewrite lost nothing while the
    * pruning stayed row-exact. */
  private def tableOptimizeZ(s: SparkSession, d: String): DataFrame = {
    val t = SnapshotTable.temp(s, "graft_q_table_optimize_z_")
    try {
      val df = Tables.orders(s, d).select(
        col("o_custkey").as("cust"), col("o_orderkey").as("k"),
        col("o_totalprice").as("v"))
      t.commit(df.filter(col("k") % 2 === 0))
      t.appendOnce(df.filter(col("k") % 2 === 1), 0L)
      t.delete(col("k") % 9 === 0)
      val v = t.optimizeZOrderedN(Seq("cust", "k"), 16)
      t.readWhereN(v, Seq(("cust", 100L, 800L), ("k", 1000L, 20000L)))
        .agg(count(lit(1)).as("n"), Det.dsum(col("v"), 2).as("total"))
        .localCheckpoint(true)
    } finally SnapshotTable.drop(t)
  }

  /** Manifest-stats pushdown through the STANDARD read surface:
    * orders committed range-clustered, a DV delete stacked on top,
    * then the aggregate runs over `spark.read.format("graft-table")`
    * with a plain WHERE — Catalyst pushes the range to the scan,
    * the scan prunes files by manifest stats (one input partition
    * per surviving file — GraftTableBatchSpec asserts the count),
    * deletion vectors apply inside the readers, and Spark re-applies
    * the predicate row-exactly. The hash proves the whole composed
    * path against a declarative filter. */
  private def tableScanPushdown(s: SparkSession, d: String): DataFrame = {
    val t = SnapshotTable.temp(s, "graft_q_table_scan_pd_")
    try {
      t.commitClustered(base(s, d), "k", 16)
      t.delete(col("k") % 9 === 0)
      s.read.format("graft-table").option("path", t.root).load()
        .filter(col("k") >= 500L && col("k") <= 20000L)
        .agg(count(lit(1)).as("n"), Det.dsum(col("v"), 2).as("total"))
        .localCheckpoint(true)
    } finally SnapshotTable.drop(t)
  }

  private val sqlRuns = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The table layer through PLAIN SQL (the [[graft.tables.GraftCatalog]]
    * surface): CREATE TABLE pins the schema as an empty v1, two
    * INSERT INTO ... SELECTs append (v2, v3), INSERT OVERWRITE
    * replaces (v4, one atomic metadata commit), and the result unions
    * the post-overwrite aggregate with `VERSION AS OF 3` — time
    * travel written in SQL, resolved by the catalog, scanned by the
    * pushdown-capable batch source. One hash proves identifier
    * resolution, both write modes and SQL time travel compose. */
  private def tableSql(s: SparkSession, d: String): DataFrame = {
    val catRoot = s"${sys.props("java.io.tmpdir")}/graft_sql_catalog"
    s.conf.set("spark.sql.catalog.graftsql", "graft.tables.GraftCatalog")
    s.conf.set("spark.sql.catalog.graftsql.root", catRoot)
    val n = sqlRuns.incrementAndGet()
    val tbl = s"orders_${n}_${java.util.UUID.randomUUID().toString.take(8)}"
    val view = s"graft_sql_src_$n"
    base(s, d).createOrReplaceTempView(view)
    try {
      s.sql(s"CREATE TABLE graftsql.$tbl (k BIGINT, v DOUBLE)")
      s.sql(s"INSERT INTO graftsql.$tbl SELECT k, v FROM $view WHERE k % 2 = 0")
      s.sql(s"INSERT INTO graftsql.$tbl SELECT k, v FROM $view WHERE k % 2 = 1")
      s.sql(s"INSERT OVERWRITE graftsql.$tbl SELECT k, v * 2 FROM $view WHERE k % 5 = 0")
      def agg(df: DataFrame, phase: String) =
        df.groupBy((col("k") % 10).as("bucket"))
          .agg(count(lit(1)).as("n"), Det.dsum(col("v"), 2).as("total"))
          .select(lit(phase).as("phase"), col("bucket"), col("n"), col("total"))
      agg(s.sql(s"SELECT * FROM graftsql.$tbl"), "after")
        .unionAll(agg(s.sql(s"SELECT * FROM graftsql.$tbl VERSION AS OF 3"), "before"))
        .orderBy("phase", "bucket").localCheckpoint(true)
    } finally {
      s.sql(s"DROP TABLE IF EXISTS graftsql.$tbl")
      s.catalog.dropTempView(view)
    }
  }

  /** STANDARD SQL row-level DML end-to-end: the reference's
    * PATCH-or-POST upsert loop (reference task.ts:228-271) as ONE
    * `MERGE INTO` statement — matched-and-flagged rows DELETE,
    * matched rows UPDATE, unmatched INSERT — followed by a plain
    * `UPDATE` and a `DELETE FROM`, all through Spark SQL against the
    * graft catalog (DSv2 SupportsRowLevelOperations + SupportsDelta:
    * tombstones stage as DV sidecars, post-images as data parts, one
    * atomic manifest commit per statement, NO pre-existing data file
    * rewritten). The oracle recomputes the same three statements
    * relationally in DuckDB. */
  private def tableSqlMerge(s: SparkSession, d: String): DataFrame = {
    val catRoot = s"${sys.props("java.io.tmpdir")}/graft_sql_catalog"
    s.conf.set("spark.sql.catalog.graftsql", "graft.tables.GraftCatalog")
    s.conf.set("spark.sql.catalog.graftsql.root", catRoot)
    val n = sqlRuns.incrementAndGet()
    val tbl = s"dml_${n}_${java.util.UUID.randomUUID().toString.take(8)}"
    val view = s"graft_dml_src_$n"
    base(s, d).createOrReplaceTempView(view)
    try {
      s.sql(s"CREATE TABLE graftsql.$tbl (k BIGINT, v DOUBLE)")
      s.sql(s"INSERT INTO graftsql.$tbl SELECT k, v FROM $view")
      // the CDC delta, derived deterministically from the data itself
      // (disjoint ops so the MERGE source is key-unique)
      s.sql(
        s"""MERGE INTO graftsql.$tbl AS t
           |USING (
           |  SELECT k, v, 'd' AS op FROM $view WHERE k % 97 = 0
           |  UNION ALL
           |  SELECT k, v + 1234.56, 'u' FROM $view WHERE k % 101 = 0 AND k % 97 <> 0
           |  UNION ALL
           |  SELECT k + 6000000, v, 'i' FROM $view WHERE k % 103 = 0 AND k <> 0
           |) AS s ON t.k = s.k
           |WHEN MATCHED AND s.op = 'd' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET v = s.v
           |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
           |""".stripMargin)
      s.sql(s"UPDATE graftsql.$tbl SET v = v * 2 WHERE k % 11 = 0")
      s.sql(s"DELETE FROM graftsql.$tbl WHERE k % 13 = 0")
      s.sql(s"SELECT * FROM graftsql.$tbl")
        .groupBy((col("k") % 10).as("bucket"))
        .agg(count(lit(1)).as("n"), Det.dsum(col("v"), 2).as("total"))
        .orderBy("bucket").localCheckpoint(true)
    } finally {
      s.sql(s"DROP TABLE IF EXISTS graftsql.$tbl")
      s.catalog.dropTempView(view)
    }
  }

  /** The ROW-LEVEL change feed through the STANDARD batch read
    * surface: after the bucketed merge, the recorded changelog is
    * consumed via `spark.read.format("graft-table")` with
    * `readChangeFeed` + version bounds (Delta's CDF batch-read
    * shape) — the scan plans ONLY `-cdc-` changelog files, never the
    * table. Same oracle semantics as q_table_changes_merge, now
    * through the DSv2 scan instead of the instance API. */
  private def tableCdfBatch(s: SparkSession, d: String): DataFrame = {
    val t = SnapshotTable.temp(s, "graft_q_table_cdf_batch_")
    try {
      val b = base(s, d)
      t.commitBucketed(b, "k", 16)
      val changes = b.filter(col("k") % 7 === 0)
        .select(col("k"), (col("v") + 1234.56).as("v"))
        .unionAll(b.filter(col("k") % 13 === 0 && col("k") =!= 0)
          .select(negate(col("k")).as("k"), col("v")))
      t.mergeBucketed(changes, "k")
      s.read.format("graft-table").option("path", t.root)
        .option("readChangeFeed", "true")
        .option("startingVersion", "1").option("endingVersion", "2").load()
        .groupBy(col(SnapshotTable.ChangeTypeCol).as("change"))
        .agg(count(lit(1)).as("n"), Det.dsum(col("v"), 2).as("total"))
        .orderBy("change").localCheckpoint(true)
    } finally SnapshotTable.drop(t)
  }

  /** The ROW-LEVEL change feed through an INSERT OVERWRITE (Delta's
    * overwrite CDF shape): the replace commit mints the replaced
    * snapshot's live rows as `delete` pre-images and the new content
    * as `insert`s in the overwrite's own write job, so the feed —
    * and retraction-based IVM above it — stays exact straight through
    * a periodic dim-table refresh instead of refusing. The feed is
    * consumed through the standard DSv2 `readChangeFeed` scan over
    * exactly the overwrite version; the oracle recomputes both sides
    * declaratively. */
  private def tableCdfReplace(s: SparkSession, d: String): DataFrame = {
    val catRoot = s"${sys.props("java.io.tmpdir")}/graft_sql_catalog"
    s.conf.set("spark.sql.catalog.graftsql", "graft.tables.GraftCatalog")
    s.conf.set("spark.sql.catalog.graftsql.root", catRoot)
    val n = sqlRuns.incrementAndGet()
    val tbl = s"repl_${n}_${java.util.UUID.randomUUID().toString.take(8)}"
    val view = s"graft_repl_src_$n"
    base(s, d).createOrReplaceTempView(view)
    try {
      s.sql(s"CREATE TABLE graftsql.$tbl (k BIGINT, v DOUBLE)")
      s.sql(s"INSERT INTO graftsql.$tbl SELECT k, v FROM $view")
      s.sql(s"INSERT OVERWRITE graftsql.$tbl SELECT k, v * 2 FROM $view WHERE k % 5 = 0")
      s.read.format("graft-table").option("path", s"$catRoot/$tbl")
        .option("readChangeFeed", "true")
        .option("startingVersion", "2").option("endingVersion", "3").load()
        .groupBy(col(SnapshotTable.ChangeTypeCol).as("change"))
        .agg(count(lit(1)).as("n"), Det.dsum(col("v"), 2).as("total"))
        .orderBy("change").localCheckpoint(true)
    } finally {
      s.sql(s"DROP TABLE IF EXISTS graftsql.$tbl")
      s.catalog.dropTempView(view)
    }
  }

  /** OPTIMISTIC CONCURRENCY through the gate: two writers MERGE the
    * same bucketed table at the same time (a latch releases both) —
    * writer A reprices keys in buckets ≡3 (mod 16) and inserts their
    * +160M mirrors (same buckets), writer B does the same for ≡7.
    * Whoever loses the publish CAS rebases (disjoint buckets: carried
    * files change, its own data doesn't — SnapshotTableSpec proves
    * rebase-vs-recompute deterministically via the injection hook);
    * both commits MUST land, and the final content is interleaving-
    * independent, so the oracle hash doubles as the serializability
    * proof. At 100 TB this is concurrent pipelines merging into one
    * table without a global lock. */
  private def tableOcc(s: SparkSession, d: String): DataFrame = {
    val t = SnapshotTable.temp(s, "graft_q_table_occ_")
    try {
      val b = base(s, d)
      t.commitBucketed(b, "k", 16)
      def changeSet(m: Long, bump: Double): DataFrame =
        b.filter(pmod(col("k"), lit(16L)) === m)
          .select(col("k"), (col("v") + bump).as("v"))
          .unionAll(b.filter(pmod(col("k"), lit(16L)) === m)
            .select((col("k") + 160000000L).as("k"), col("v")))
      val srcA = changeSet(3L, 1000.0)
      val srcB = changeSet(7L, 2000.0)
      val start = new java.util.concurrent.CountDownLatch(1)
      val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val threads = Seq(srcA, srcB).map { src =>
        val th = new Thread(() => {
          start.await()
          try t.mergeBucketed(src, "k")
          catch { case e: Throwable => failure.compareAndSet(null, e) }
        })
        th.start(); th
      }
      start.countDown()
      threads.foreach(_.join())
      if (failure.get != null) throw failure.get
      require(t.currentVersion == 3L, s"both merges must commit, at v${t.currentVersion}")
      bucketAgg(t.read()).orderBy("bucket").localCheckpoint(true)
    } finally SnapshotTable.drop(t)
  }

  /** LOG RETENTION through the gate: an append chain accretes history
    * (v1 commit evens, v2 append odds), compaction rewrites it (v3),
    * one more append lands (v4), then `expireVersions(keepLast=2)` +
    * an immediate vacuum retire v1/v2 and reclaim the pre-compaction
    * originals — and the CURRENT version must still read back
    * perfectly (its files are referenced by surviving manifests, so
    * vacuum pinned them). The gated aggregate runs AFTER the
    * destructive cleanup: the hash proves retention never touches
    * live data. At 100 TB this is the nightly ops pair that keeps a
    * streaming table's metadata and storage bounded. */
  private def tableExpire(s: SparkSession, d: String): DataFrame = {
    val t = SnapshotTable.temp(s, "graft_q_table_expire_")
    try {
      val b = base(s, d)
      t.commit(b.filter(col("k") % 2 === 0))
      t.appendOnce(b.filter(col("k") % 2 === 1), 0L)
      t.compact(4)
      t.appendOnce(b.filter(col("k") % 103 === 0)
        .select((col("k") + 6000000L).as("k"), col("v")), 1L)
      t.expireVersions(keepLast = 2)
      t.vacuum(retainMillis = 0L) // single-writer gate — immediate reclaim
      bucketAgg(t.read()).orderBy("bucket").localCheckpoint(true)
    } finally SnapshotTable.drop(t)
  }

  /** LAKEHOUSE CURATION capstone: the LLM-corpus quality pipeline run
    * THROUGH the table layer's verbs instead of as one query —
    * (1) documents commit behind quality EXPECTATIONS (short and
    * synthetic-gated rows quarantined, not dropped), (2) exact-dup
    * losers (same md5(text), higher doc_id) are computed AS A
    * RELATION and tombstoned via [[graft.tables.SnapshotTable.deleteKeys]]
    * — deletion vectors, no file rewritten, O(dups) — and (3) the
    * curated snapshot is read back through the standard
    * `spark.read.format("graft-table")` scan. One hash proves gate ∘
    * dedup-delete ∘ DV-read compose exactly. At 100 TB each step
    * keeps its cost class: one gated write, one loser join + DV
    * write, metadata-planned reads. */
  private def pipelineLakehouse(s: SparkSession, d: String): DataFrame = {
    val t = SnapshotTable.temp(s, "graft_q_pipeline_lakehouse_")
    try {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      t.commitExpect(docs, Map(
        "min_len" -> (col("n_chars") >= 200),
        "id_gate" -> (col("doc_id") % 97 =!= 0)))
      val kept = t.read()
      val losers = kept.groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("keep"))
        .join(kept.select(md5(col("text")).as("h"), col("doc_id")), "h")
        .filter(col("doc_id") =!= col("keep"))
        .select("doc_id")
      t.deleteKeys(losers, "doc_id")
      s.read.format("graft-table").option("path", t.root).load()
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("total_chars"))
        .orderBy("lang").localCheckpoint(true)
    } finally SnapshotTable.drop(t)
  }

  override val queries: Map[String, Q] = Map(
    "q_pipeline_lakehouse" -> pipelineLakehouse,
    "q_table_expire"     -> tableExpire,
    "q_table_occ"        -> tableOcc,
    "q_table_scan_pushdown" -> tableScanPushdown,
    "q_table_sql"        -> tableSql,
    "q_table_sql_merge"  -> tableSqlMerge,
    "q_table_cdf_batch"  -> tableCdfBatch,
    "q_table_cdf_replace" -> tableCdfReplace,
    "q_table_expect"     -> tableExpect,
    "q_table_constraint" -> tableConstraint,
    "q_table_compact_small" -> tableCompactSmall,
    "q_table_optimize_z" -> tableOptimizeZ,
    "q_table_restore"    -> tableRestore,
    "q_table_clone"      -> tableClone,
    "q_table_meta_agg"   -> tableMetaAgg,
    "q_table_meta_agg_dv" -> tableMetaAggDv,
    "q_table_meta_sum"   -> tableMetaSum,
    "q_table_update_dv"  -> tableUpdateDv,
    "q_table_lifecycle"  -> tableLifecycle,
    "q_table_bloom"      -> tableBloom,
    "q_mv_incremental"   -> mvIncremental,
    "q_mv_inc_dml"       -> mvIncDml,
    "q_mv_inc_join"      -> mvIncJoin,
    "q_table_stream"     -> tableStream,
    "q_table_stream_sink" -> tableStreamSink,
    "q_table_delete_dv"  -> tableDeleteDv,
    "q_table_evolve"     -> tableEvolve,
    "q_table_evolve_rename" -> tableEvolveRename,
    "q_table_evolve_widen" -> tableEvolveWiden,
    "q_table_skipping_str" -> tableSkippingStr,
    "q_table_commit"     -> tableCommit,
    "q_table_compact"    -> tableCompact,
    "q_table_skipping"   -> tableSkipping,
    "q_table_skipping_ts" -> tableSkippingTs,
    "q_table_skipping_z" -> tableSkippingZ,
    "q_table_skipping_z3" -> tableSkippingZ3,
    "q_table_timetravel" -> tableTimetravel,
    "q_table_merge_bucketed" -> tableMergeBucketed,
    "q_table_changes"    -> tableChanges,
    "q_table_changes_merge" -> tableChangesMerge,
    "q_table_diff"       -> tableDiff,
    "q_table_ivm"        -> tableIvm,
  )

  private val newsnapCte =
    """newsnap AS (
      |  SELECT o_orderkey AS k,
      |         CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 1234.56
      |              ELSE o_totalprice END AS v
      |  FROM orders WHERE o_orderkey % 97 <> 0
      |  UNION ALL
      |  SELECT o_orderkey + 6000000 AS k, o_totalprice AS v
      |  FROM orders WHERE o_orderkey % 103 = 0)""".stripMargin

  override val oracles: Map[String, String] = Map(
    "q_pipeline_lakehouse" ->
      """WITH kept AS (
        |  SELECT doc_id, text, lang, n_chars FROM documents
        |  WHERE n_chars >= 200 AND doc_id % 97 <> 0),
        |firsts AS (
        |  SELECT k.* FROM kept k
        |  JOIN (SELECT md5(text) AS h, MIN(doc_id) AS keep
        |        FROM kept GROUP BY md5(text)) f
        |    ON md5(k.text) = f.h AND k.doc_id = f.keep)
        |SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM firsts GROUP BY lang ORDER BY lang""".stripMargin,
    "q_table_expire" ->
      s"""WITH snap AS (
         |  SELECT o_orderkey AS k, o_totalprice AS v FROM orders
         |  UNION ALL
         |  SELECT o_orderkey + 6000000 AS k, o_totalprice AS v
         |  FROM orders WHERE o_orderkey % 103 = 0)
         |SELECT k % 10 AS bucket, COUNT(*) AS n, ${Det.dsumSql("v", 2)} AS total
         |FROM snap GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_table_occ" ->
      s"""WITH b AS (SELECT o_orderkey AS k, o_totalprice AS v FROM orders),
         |merged AS (
         |  SELECT k,
         |         CASE WHEN ((k % 16) + 16) % 16 = 3 THEN v + 1000.0
         |              WHEN ((k % 16) + 16) % 16 = 7 THEN v + 2000.0
         |              ELSE v END AS v
         |  FROM b
         |  UNION ALL
         |  SELECT k + 160000000 AS k, v FROM b WHERE ((k % 16) + 16) % 16 IN (3, 7))
         |SELECT k % 10 AS bucket, COUNT(*) AS n, ${Det.dsumSql("v", 2)} AS total
         |FROM merged GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_table_scan_pushdown" ->
      s"""SELECT COUNT(*) AS n, ${Det.dsumSql("o_totalprice", 2)} AS total
         |FROM orders
         |WHERE o_orderkey BETWEEN 500 AND 20000
         |  AND o_orderkey % 9 <> 0""".stripMargin,
    "q_table_sql" ->
      s"""WITH b AS (SELECT o_orderkey AS k, o_totalprice AS v FROM orders)
         |SELECT * FROM (
         |  SELECT 'after' AS phase, k % 10 AS bucket, COUNT(*) AS n,
         |         ${Det.dsumSql("v * 2", 2)} AS total
         |  FROM b WHERE k % 5 = 0 GROUP BY bucket
         |  UNION ALL
         |  SELECT 'before' AS phase, k % 10 AS bucket, COUNT(*) AS n,
         |         ${Det.dsumSql("v", 2)} AS total
         |  FROM b GROUP BY bucket)
         |ORDER BY phase, bucket""".stripMargin,
    "q_table_sql_merge" ->
      s"""WITH b AS (SELECT o_orderkey AS k, o_totalprice AS v FROM orders),
         |merged AS (
         |  SELECT t.k,
         |         CASE WHEN t.k % 101 = 0 AND t.k % 97 <> 0 THEN t.v + 1234.56
         |              ELSE t.v END AS v
         |  FROM b t WHERE t.k % 97 <> 0
         |  UNION ALL
         |  SELECT k + 6000000 AS k, v FROM b WHERE k % 103 = 0 AND k <> 0),
         |updated AS (
         |  SELECT k, CASE WHEN k % 11 = 0 THEN v * 2 ELSE v END AS v FROM merged),
         |final AS (SELECT * FROM updated WHERE k % 13 <> 0)
         |SELECT k % 10 AS bucket, COUNT(*) AS n, ${Det.dsumSql("v", 2)} AS total
         |FROM final GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_table_cdf_batch" ->
      s"""WITH t AS (SELECT o_orderkey AS k, o_totalprice AS v FROM orders)
         |SELECT * FROM (
         |  SELECT 'insert' AS change, COUNT(*) AS n, ${Det.dsumSql("v", 2)} AS total
         |  FROM t WHERE k % 13 = 0 AND k <> 0
         |  UNION ALL
         |  SELECT 'update_postimage', COUNT(*), ${Det.dsumSql("v + 1234.56", 2)}
         |  FROM t WHERE k % 7 = 0
         |  UNION ALL
         |  SELECT 'update_preimage', COUNT(*), ${Det.dsumSql("v", 2)}
         |  FROM t WHERE k % 7 = 0)
         |ORDER BY change""".stripMargin,
    "q_table_cdf_replace" ->
      s"""WITH b AS (SELECT o_orderkey AS k, o_totalprice AS v FROM orders)
         |SELECT * FROM (
         |  SELECT 'delete' AS change, COUNT(*) AS n, ${Det.dsumSql("v", 2)} AS total
         |  FROM b
         |  UNION ALL
         |  SELECT 'insert', COUNT(*), ${Det.dsumSql("v * 2", 2)}
         |  FROM b WHERE k % 5 = 0)
         |ORDER BY change""".stripMargin,
    "q_table_compact_small" ->
      s"""SELECT o_orderkey % 10 AS bucket, COUNT(*) AS n,
         |       ${Det.dsumSql("o_totalprice", 2)} AS total
         |FROM orders WHERE o_orderkey % 9 <> 0
         |GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_table_constraint" ->
      s"""WITH o AS (SELECT o_orderkey AS k, o_totalprice AS v FROM orders),
         |fin AS (
         |  SELECT k, CASE WHEN k % 7 = 0 THEN v + 1.0 ELSE v END AS v FROM o
         |  UNION ALL SELECT 9000000, CAST(NULL AS DOUBLE)
         |  UNION ALL SELECT k, -v FROM o WHERE k % 1000 = 0)
         |SELECT k % 10 AS bucket, COUNT(*) AS n, ${Det.dsumSql("v", 2)} AS total
         |FROM fin GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_table_expect" ->
      s"""WITH b AS (SELECT o_orderkey AS k, o_totalprice AS v FROM orders),
         |tagged AS (
         |  SELECT k, v,
         |         CASE WHEN NOT (v < 300000) THEN 'cap'
         |              WHEN NOT (k % 11 <> 0) THEN 'key_mod' END AS phase
         |  FROM b),
         |kept AS (
         |  SELECT 'kept' AS phase, COUNT(*) AS n, ${Det.dsumSql("v", 2)} AS total
         |  FROM tagged WHERE phase IS NULL),
         |quar AS (
         |  SELECT phase, COUNT(*) AS n, ${Det.dsumSql("v", 2)} AS total
         |  FROM tagged WHERE phase IS NOT NULL GROUP BY phase)
         |SELECT * FROM (SELECT * FROM kept UNION ALL SELECT * FROM quar)
         |ORDER BY phase""".stripMargin,
    "q_table_optimize_z" ->
      s"""SELECT COUNT(*) AS n, ${Det.dsumSql("o_totalprice", 2)} AS total
         |FROM orders
         |WHERE o_custkey BETWEEN 100 AND 800
         |  AND o_orderkey BETWEEN 1000 AND 20000
         |  AND o_orderkey % 9 <> 0""".stripMargin,
    "q_table_restore" ->
      s"""WITH b AS (SELECT o_orderkey AS k, o_totalprice AS v FROM orders),
         |res AS (
         |  SELECT 'restored' AS phase, k % 10 AS bucket, COUNT(*) AS n,
         |         ${Det.dsumSql("v", 2)} AS total
         |  FROM b WHERE k % 2 = 0 GROUP BY phase, bucket),
         |pre AS (
         |  SELECT 'pre' AS phase, k % 10 AS bucket, COUNT(*) AS n,
         |         ${Det.dsumSql("v", 2)} AS total
         |  FROM b WHERE k % 7 <> 0 GROUP BY phase, bucket)
         |SELECT * FROM (SELECT * FROM res UNION ALL SELECT * FROM pre)
         |ORDER BY phase, bucket""".stripMargin,
    "q_table_clone" ->
      s"""WITH b AS (SELECT o_orderkey AS k, o_totalprice AS v FROM orders),
         |c AS (SELECT k, v FROM b UNION ALL SELECT k + 6000000, v FROM b),
         |cl AS (
         |  SELECT 'clone' AS side, k % 10 AS bucket, COUNT(*) AS n,
         |         ${Det.dsumSql("v", 2)} AS total
         |  FROM c GROUP BY side, bucket),
         |sr AS (
         |  SELECT 'src' AS side, k % 10 AS bucket, COUNT(*) AS n,
         |         ${Det.dsumSql("v", 2)} AS total
         |  FROM b GROUP BY side, bucket)
         |SELECT * FROM (SELECT * FROM cl UNION ALL SELECT * FROM sr)
         |ORDER BY side, bucket""".stripMargin,
    "q_table_meta_agg" ->
      """SELECT COUNT(*) AS n, MIN(o_orderkey) AS lo, MAX(o_orderkey) AS hi
        |FROM orders""".stripMargin,
    "q_table_meta_agg_dv" ->
      """WITH live0 AS (
        |  SELECT o_orderkey AS k FROM orders
        |  WHERE NOT (o_orderkey < 500 OR o_orderkey % 7 = 0)
        |), appended AS (
        |  SELECT o_orderkey + 20000000 AS k FROM orders WHERE o_orderkey % 13 = 0
        |), allrows AS (
        |  SELECT k FROM live0 UNION ALL SELECT k FROM appended
        |), upd AS (
        |  SELECT CASE WHEN k % 997 = 0 THEN k + 30000000 ELSE k END AS k FROM allrows
        |)
        |SELECT COUNT(*) AS n, MIN(k) AS lo, MAX(k) AS hi FROM upd""".stripMargin,
    "q_table_meta_sum" ->
      """WITH live0 AS (
        |  SELECT o_orderkey AS k FROM orders
        |  WHERE NOT (o_orderkey % 7 = 0 OR o_orderkey < 500)
        |), appended AS (
        |  SELECT o_orderkey + 20000000 AS k FROM orders WHERE o_orderkey % 13 = 0
        |), allrows AS (
        |  SELECT k FROM live0 UNION ALL SELECT k FROM appended
        |), upd AS (
        |  SELECT CASE WHEN k % 997 = 0 THEN k + 30000000 ELSE k END AS k FROM allrows
        |)
        |SELECT CAST(SUM(k) AS BIGINT) AS s, COUNT(k) AS nn FROM upd""".stripMargin,
    "q_table_update_dv" ->
      s"""WITH b AS (SELECT o_orderkey AS k, o_totalprice AS v FROM orders),
         |upd AS (SELECT k, CASE WHEN k % 5 = 0 THEN v * 2 ELSE v END AS v FROM b),
         |aft AS (
         |  SELECT 'after' AS phase, k % 10 AS bucket, COUNT(*) AS n,
         |         ${Det.dsumSql("v", 2)} AS total
         |  FROM upd GROUP BY phase, bucket),
         |bas AS (
         |  SELECT 'base' AS phase, k % 10 AS bucket, COUNT(*) AS n,
         |         ${Det.dsumSql("v", 2)} AS total
         |  FROM b GROUP BY phase, bucket)
         |SELECT * FROM (SELECT * FROM aft UNION ALL SELECT * FROM bas)
         |ORDER BY phase, bucket""".stripMargin,
    "q_mv_incremental" ->
      s"""SELECT o_orderpriority AS pri, COUNT(*) AS n,
         |       ${Det.dsumSql("o_totalprice", 2)} AS total
         |FROM orders GROUP BY pri ORDER BY pri""".stripMargin,
    "q_mv_inc_join" ->
      s"""WITH f0 AS (SELECT o_orderkey AS k, o_custkey AS c, o_totalprice AS v
         |            FROM orders),
         |u AS (SELECT k, c, v FROM f0
         |      UNION ALL SELECT k + 6000000, c, v FROM f0 WHERE k % 100 = 0),
         |fin AS (
         |  SELECT k, c,
         |         CASE WHEN k % 11 = 0 AND k % 7 <> 0 THEN v + 100.0 ELSE v END AS v
         |  FROM u WHERE k % 7 <> 0)
         |SELECT c_mktsegment AS seg, COUNT(*) AS n, ${Det.dsumSql("v", 2)} AS total
         |FROM fin JOIN customer ON c = c_custkey
         |GROUP BY seg ORDER BY seg""".stripMargin,
    "q_mv_inc_dml" ->
      s"""WITH x AS (
         |  SELECT o_orderpriority AS pri,
         |         CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice + 100.0
         |              ELSE o_totalprice END AS v
         |  FROM orders WHERE o_orderkey % 7 <> 0)
         |SELECT pri, COUNT(*) AS n, ${Det.dsumSql("v", 2)} AS total
         |FROM x GROUP BY pri ORDER BY pri""".stripMargin,
    "q_table_stream" ->
      s"""SELECT o_orderkey % 10 AS bucket, COUNT(*) AS n,
         |       ${Det.dsumSql("o_totalprice", 2)} AS total
         |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_table_stream_sink" ->
      s"""WITH x AS (
         |  SELECT o_orderkey AS k, o_totalprice * 2 AS v
         |  FROM orders WHERE o_orderkey % 3 = 0)
         |SELECT k % 10 AS bucket, COUNT(*) AS n, ${Det.dsumSql("v", 2)} AS total
         |FROM x GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_table_delete_dv" ->
      s"""WITH b AS (SELECT o_orderkey AS k, o_totalprice AS v FROM orders),
         |live AS (SELECT * FROM b WHERE NOT (k % 7 = 0) AND NOT (v > 300000)),
         |aft AS (
         |  SELECT 'after' AS phase, k % 10 AS bucket, COUNT(*) AS n,
         |         ${Det.dsumSql("v", 2)} AS total
         |  FROM live GROUP BY phase, bucket),
         |bas AS (
         |  SELECT 'base' AS phase, k % 10 AS bucket, COUNT(*) AS n,
         |         ${Det.dsumSql("v", 2)} AS total
         |  FROM b GROUP BY phase, bucket)
         |SELECT * FROM (SELECT * FROM aft UNION ALL SELECT * FROM bas)
         |ORDER BY phase, bucket""".stripMargin,
    "q_table_evolve" ->
      s"""WITH x AS (
         |  SELECT o_orderkey AS k, o_totalprice AS v,
         |         CASE WHEN o_orderkey % 2 = 1 THEN o_orderkey % 3 END AS flag
         |  FROM orders)
         |SELECT k % 10 AS bucket, COUNT(*) AS n, ${Det.dsumSql("v", 2)} AS total,
         |       CAST(SUM(flag) AS BIGINT) AS flags
         |FROM x GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_table_evolve_rename" ->
      s"""WITH snap AS (
         |  SELECT o_orderkey AS k, o_totalprice AS price FROM orders
         |  UNION ALL
         |  SELECT o_orderkey + 6000000, o_totalprice + 1000.0
         |  FROM orders WHERE o_orderkey % 103 = 0)
         |SELECT k % 10 AS bucket, COUNT(*) AS n, ${Det.dsumSql("price", 2)} AS total
         |FROM snap WHERE k % 97 <> 0
         |GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_table_evolve_widen" ->
      s"""WITH snap AS (
         |  SELECT o_orderkey AS k, o_totalprice AS v FROM orders
         |  UNION ALL
         |  SELECT o_orderkey + 6000000000 AS k, o_totalprice AS v
         |  FROM orders WHERE o_orderkey % 103 = 0)
         |SELECT k % 10 AS bucket, COUNT(*) AS n, ${Det.dsumSql("v", 2)} AS total
         |FROM snap GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_table_lifecycle" ->
      s"""WITH x AS (
         |  SELECT o_orderkey AS k, o_totalprice AS v,
         |         CASE WHEN o_orderkey % 2 = 1 THEN o_orderkey % 3 END AS flag
         |  FROM orders WHERE o_orderkey % 7 <> 0)
         |SELECT k % 10 AS bucket, COUNT(*) AS n, ${Det.dsumSql("v", 2)} AS total,
         |       CAST(SUM(flag) AS BIGINT) AS flags
         |FROM x GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_table_bloom" ->
      s"""WITH b AS (SELECT o_orderkey AS k, o_totalprice AS v FROM orders)
         |SELECT 'absent' AS probe, COUNT(*) AS n, ${Det.dsumSql("v", 2)} AS total
         |FROM b WHERE k = -1
         |UNION ALL
         |SELECT 'max', COUNT(*), ${Det.dsumSql("v", 2)}
         |FROM b WHERE k = (SELECT MAX(k) FROM b)
         |UNION ALL
         |SELECT 'min', COUNT(*), ${Det.dsumSql("v", 2)}
         |FROM b WHERE k = (SELECT MIN(k) FROM b)
         |ORDER BY probe""".stripMargin,
    "q_table_skipping_str" ->
      s"""SELECT COUNT(*) AS n, ${Det.dsumSql("c_acctbal", 2)} AS total
         |FROM customer
         |WHERE c_name BETWEEN 'Customer#000000200' AND 'Customer#000000599'""".stripMargin,
    "q_table_commit" ->
      s"""WITH $newsnapCte
         |SELECT k % 10 AS bucket, COUNT(*) AS n, ${Det.dsumSql("v", 2)} AS total
         |FROM newsnap GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_table_merge_bucketed" ->
      s"""WITH t AS (SELECT o_orderkey AS k, o_totalprice AS v FROM orders),
         |changes AS (
         |  SELECT k AS sk, v + 1234.56 AS sv FROM t WHERE k % 7 = 0
         |  UNION ALL
         |  SELECT -k AS sk, v AS sv FROM t WHERE k % 13 = 0),
         |m AS (
         |  SELECT COALESCE(changes.sk, t.k) AS k,
         |         COALESCE(changes.sv, t.v) AS v
         |  FROM t FULL OUTER JOIN changes ON t.k = changes.sk)
         |SELECT ((k % 16) + 16) % 16 AS bucket, COUNT(*) AS n,
         |       ${Det.dsumSql("v", 2)} AS total
         |FROM m GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_table_compact" ->
      s"""SELECT o_orderkey % 10 AS bucket, COUNT(*) AS n,
         |       ${Det.dsumSql("o_totalprice", 2)} AS total
         |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_table_skipping" ->
      s"""SELECT COUNT(*) AS n, ${Det.dsumSql("o_totalprice", 2)} AS total
         |FROM orders WHERE o_orderkey BETWEEN 100 AND 5000""".stripMargin,
    "q_table_skipping_ts" ->
      s"""SELECT COUNT(*) AS n, ${Det.dsumSql("o_totalprice", 2)} AS total
         |FROM orders
         |WHERE o_orderdate BETWEEN DATE '1994-01-01' AND DATE '1994-12-31'""".stripMargin,
    "q_table_skipping_z" ->
      s"""SELECT COUNT(*) AS n, ${Det.dsumSql("o_totalprice", 2)} AS total
         |FROM orders
         |WHERE o_custkey BETWEEN 100 AND 800
         |  AND o_orderkey BETWEEN 1000 AND 20000""".stripMargin,
    "q_table_skipping_z3" ->
      s"""SELECT COUNT(*) AS n, ${Det.dsumSql("o_totalprice", 2)} AS total
         |FROM orders
         |WHERE o_custkey BETWEEN 100 AND 800
         |  AND o_orderkey BETWEEN 1000 AND 20000
         |  AND o_orderdate BETWEEN DATE '1993-01-01' AND DATE '1995-12-31'""".stripMargin,
    "q_table_changes" ->
      s"""SELECT o_orderkey % 10 AS bucket, COUNT(*) AS n,
         |       ${Det.dsumSql("o_totalprice", 2)} AS total
         |FROM orders WHERE o_orderkey % 2 = 1
         |GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_table_changes_merge" ->
      s"""WITH t AS (SELECT o_orderkey AS k, o_totalprice AS v FROM orders)
         |SELECT * FROM (
         |  SELECT 'insert' AS change, COUNT(*) AS n, ${Det.dsumSql("v", 2)} AS total
         |  FROM t WHERE k % 13 = 0 AND k <> 0
         |  UNION ALL
         |  SELECT 'update_postimage', COUNT(*), ${Det.dsumSql("v + 1234.56", 2)}
         |  FROM t WHERE k % 7 = 0
         |  UNION ALL
         |  SELECT 'update_preimage', COUNT(*), ${Det.dsumSql("v", 2)}
         |  FROM t WHERE k % 7 = 0)
         |ORDER BY change""".stripMargin,
    "q_table_diff" ->
      s"""WITH t AS (SELECT o_orderkey AS k, o_totalprice AS v FROM orders)
         |SELECT * FROM (
         |  SELECT 'insert' AS change, COUNT(*) AS n_keys,
         |         ${Det.dsumSql("v", 2)} AS delta_value
         |  FROM t WHERE k % 13 = 0 AND k <> 0
         |  UNION ALL
         |  SELECT 'update', COUNT(*), ${Det.dsumSql("(v + 1234.56) - v", 2)}
         |  FROM t WHERE k % 7 = 0)
         |ORDER BY change""".stripMargin,
    "q_table_ivm" ->
      s"""SELECT o_orderpriority AS pri, COUNT(*) AS n,
         |       ${Det.dsumSql("o_totalprice", 2)} AS total
         |FROM orders GROUP BY pri ORDER BY pri""".stripMargin,
    "q_table_timetravel" ->
      s"""WITH $newsnapCte
         |SELECT * FROM (
         |  SELECT 1 AS version, o_orderkey % 10 AS bucket, COUNT(*) AS n,
         |         ${Det.dsumSql("o_totalprice", 2)} AS total
         |  FROM orders GROUP BY bucket
         |  UNION ALL
         |  SELECT 2 AS version, k % 10 AS bucket, COUNT(*) AS n,
         |         ${Det.dsumSql("v", 2)} AS total
         |  FROM newsnap GROUP BY bucket)
         |ORDER BY version, bucket""".stripMargin,
  )
}
