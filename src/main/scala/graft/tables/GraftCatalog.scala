package graft.tables

import java.nio.file.{Files, Path, Paths}
import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Column, Identifier, ProcedureCatalog, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ops.Similarity

/** [[SnapshotTable]]s as a Spark SQL CATALOG: register once —
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", "graft.tables.GraftCatalog")
  *   spark.conf.set("spark.sql.catalog.graft.root", "/data/tables")
  * }}}
  * — and the whole table layer is reachable from plain SQL:
  * `CREATE TABLE graft.t (...)`, `INSERT INTO graft.t SELECT ...`,
  * `INSERT OVERWRITE graft.t ...`, `SELECT ... FROM graft.t` (batch
  * scan with manifest-stats pushdown pruning), and time travel via
  * `SELECT ... FROM graft.t VERSION AS OF 3` (Spark routes the
  * version literal to [[loadTable(ident:Identifier,version:String)*]],
  * which pins the scan's `versionAsOf`).
  *
  * Identifiers map to directories: `graft.ns.tbl` lives at
  * `<root>/ns/tbl`. A CREATE commits version 1 with the declared
  * schema and zero data files (the same atomic manifest publish as
  * every write — two racing CREATEs resolve by the commit CAS), so
  * schema inference works on empty tables. All catalog state IS the
  * table layout on disk — no side metastore to drift.
  */
class GraftCatalog extends TableCatalog with ProcedureCatalog {
  private var catalogName: String = _
  private var root: Path = _

  override def name(): String = catalogName

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val r = options.get("root")
    require(r != null && r.nonEmpty,
      s"catalog $name requires spark.sql.catalog.$name.root=<dir>")
    root = Paths.get(r)
    Files.createDirectories(root)
    // spark.sql.catalog.<name>.mvRegistry=true: the catalog root also
    // carries the DURABLE materialized-view registry (_mv_registry) —
    // a fresh session initializing this catalog transparently rewrites
    // against materializations registered by earlier sessions
    if (options.getBoolean("mvRegistry", false))
      graft.plans.MaterializedViews.attachDurableRegistry(root.toString)
  }

  private def pathOf(ident: Identifier): Path = {
    val segs = ident.namespace().toSeq :+ ident.name()
    segs.foreach(s => require(!s.contains('/') && s != ".." && s != ".",
      s"bad identifier segment '$s'"))
    segs.foldLeft(root)(_.resolve(_))
  }

  private def isTableDir(p: Path): Boolean =
    Files.isDirectory(p.resolve("_manifests"))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = namespace.foldLeft(root)(_.resolve(_))
    if (!Files.isDirectory(dir)) return Array.empty
    val s = Files.list(dir)
    try s.iterator().asScala
      .filter(isTableDir)
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray
    finally s.close()
  }

  override def tableExists(ident: Identifier): Boolean = isTableDir(pathOf(ident))

  private def tableAt(p: Path, extraOptions: Map[String, String]): Table = {
    val v = extraOptions.get("versionAsOf").map(_.toLong)
      .getOrElse(SnapshotTable.currentVersionAt(p))
    require(v > 0, s"table at $p has no committed version")
    new GraftTableStreamTable(SnapshotTable.schemaAt(p, v),
      Map("path" -> p.toString) ++ extraOptions)
  }

  override def loadTable(ident: Identifier): Table = {
    val p = pathOf(ident)
    if (!isTableDir(p)) throw new NoSuchTableException(ident)
    tableAt(p, Map.empty)
  }

  /** Time travel: `VERSION AS OF <v>` — the scan pins `versionAsOf`,
    * so reads, schema and pushdown pruning all come from THAT
    * committed manifest. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val p = pathOf(ident)
    if (!isTableDir(p)) throw new NoSuchTableException(ident)
    tableAt(p, Map("versionAsOf" -> version))
  }

  /** Time travel: `TIMESTAMP AS OF <t>` — Spark hands the literal as
    * epoch MICROseconds; resolve to the newest version committed at
    * or before it (from the manifests' own `#op= ts=` records). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val p = pathOf(ident)
    if (!isTableDir(p)) throw new NoSuchTableException(ident)
    val v = SnapshotTable.versionAtTs(p, Math.floorDiv(timestampMicros, 1000L))
    tableAt(p, Map("versionAsOf" -> v.toString))
  }

  override def createTable(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform], properties: JMap[String, String]): Table = {
    require(partitions.isEmpty,
      "graft catalog tables do not take PARTITIONED BY (layout comes from commit verbs)")
    val p = pathOf(ident)
    if (isTableDir(p)) throw new TableAlreadyExistsException(ident)
    val schema = StructType(columns.map(c =>
      org.apache.spark.sql.types.StructField(c.name(), c.dataType(), c.nullable())))
    val t = new SnapshotTable(SparkSession.active, p.toString)
    // an EMPTY version 1 pins the declared schema; racing CREATEs
    // resolve by the same publish CAS as every commit
    try t.publish(1L, t.writeTmpManifest(1L, schema, Seq.empty))
    catch { case _: CommitConflictException =>
      throw new TableAlreadyExistsException(ident)
    }
    new GraftTableStreamTable(schema, Map("path" -> p.toString))
  }

  @deprecated("use the Column[] variant", "graft")
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String]): Table =
    createTable(ident,
      schema.fields.map(f => Column.create(f.name, f.dataType, f.nullable)),
      partitions, properties)

  /** `ALTER TABLE ... RENAME COLUMN / DROP COLUMN / ADD COLUMN` —
    * metadata-only commits on the column-mapping layer
    * ([[SnapshotTable.renameColumn]]/[[SnapshotTable.dropColumn]]/
    * [[SnapshotTable.addColumn]]): no data file is touched, renames
    * keep resolving in pre-rename files through their pinned physical
    * names, drops survive time travel, and a re-added name can never
    * resurrect dropped data (retired-name guard). */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val p = pathOf(ident)
    if (!isTableDir(p)) throw new NoSuchTableException(ident)
    val t = new SnapshotTable(SparkSession.active, p.toString)
    // ALTER COLUMN ... SET/DROP NOT NULL rides the CHECK-constraint
    // machinery: add-time validation + write-time enforcement on
    // every path, as a metadata-only commit — translated here and
    // folded into the SAME single commit as the schema changes below
    val (nullability, rest) =
      changes.partition(_.isInstanceOf[TableChange.UpdateColumnNullability])
    val nullOps: Seq[(String, Boolean)] =
      nullability.map { case u: TableChange.UpdateColumnNullability =>
        require(u.fieldNames().length == 1,
          "graft tables alter top-level column nullability only")
        u.fieldNames()(0) -> !u.nullable()
      }
    // translate + validate EVERY change first, then publish ONE
    // commit ([[SnapshotTable.alterAtomic]] validates the nullability
    // half and each schema op against the schema as evolved by its
    // predecessors) — a multi-action ALTER that fails partway leaves
    // NOTHING committed, nullability changes included
    val ops: Seq[SnapshotTable.SchemaOp] = rest.map {
      case r: TableChange.RenameColumn =>
        require(r.fieldNames().length == 1,
          "graft tables rename top-level columns only")
        SnapshotTable.SchemaOp.Rename(r.fieldNames()(0), r.newName())
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames().length == 1,
          "graft tables drop top-level columns only")
        SnapshotTable.SchemaOp.Drop(d.fieldNames()(0))
      case a: TableChange.AddColumn =>
        require(a.fieldNames().length == 1,
          "graft tables add top-level columns only")
        require(a.isNullable, "added columns must be nullable " +
          "(old files surface NULL for them)")
        // FIRST/AFTER would need a positional schema rewrite the
        // mapping layer doesn't do — refuse rather than silently
        // appending at the tail
        if (a.position() != null) throw new UnsupportedOperationException(
          "graft tables do not support positioned ADD COLUMN (FIRST/AFTER); " +
            "columns append at the schema tail")
        SnapshotTable.SchemaOp.Add(a.fieldNames()(0), a.dataType())
      case u: TableChange.UpdateColumnType =>
        require(u.fieldNames().length == 1,
          "graft tables alter top-level column types only")
        SnapshotTable.SchemaOp.Widen(u.fieldNames()(0), u.newDataType())
      case other => throw new UnsupportedOperationException(
        s"ALTER TABLE change not supported by graft tables: $other")
    }
    if (ops.isEmpty && nullOps.isEmpty) return loadTable(ident)
    t.alterAtomic(ops, nullOps,
      if (nullOps.isEmpty && ops.length == 1) ops.head match {
        case _: SnapshotTable.SchemaOp.Rename => "RENAME"
        case _: SnapshotTable.SchemaOp.Drop => "DROP"
        case _: SnapshotTable.SchemaOp.Add => "ADDCOL"
        case _: SnapshotTable.SchemaOp.Widen => "WIDEN"
      } else "ALTER")
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = pathOf(ident)
    if (!isTableDir(p)) false
    else { SnapshotTable.deleteRecursively(p); true }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = pathOf(oldIdent)
    if (!isTableDir(from)) throw new NoSuchTableException(oldIdent)
    val to = pathOf(newIdent)
    if (isTableDir(to)) throw new TableAlreadyExistsException(newIdent)
    Files.createDirectories(to.getParent)
    Files.move(from, to)
  }

  // ---- maintenance PROCEDURES: `CALL <cat>.compact(...)` etc. ----------
  //
  // The operational verbs a 100 TB table runs nightly, callable from
  // plain SQL (DSv2 ProcedureCatalog, Spark 4's CALL statement) — the
  // same surface Iceberg exposes its maintenance through. Each returns
  // one row so schedulers can log the outcome.

  /** Resolve a procedure's raw `table` argument ('tbl' or 'ns/tbl')
    * under the SAME segment validation as [[pathOf]] — rejecting
    * '..', '.', empty and backslash segments — so destructive
    * procedures (vacuum, delete_where, restore, ...) can never escape
    * the catalog root via a crafted name. */
  private def procTablePath(tableName: String): Path = {
    val segs = tableName.split('/').toSeq
    require(segs.nonEmpty && segs.forall(s =>
      s.nonEmpty && s != ".." && s != "." && !s.contains('\\')),
      s"bad table name '$tableName' (want seg[/seg...], no '..'/'.'/empty)")
    segs.foldLeft(root)(_.resolve(_))
  }

  private def snapshotOf(tableName: String): SnapshotTable = {
    val p = procTablePath(tableName)
    require(isTableDir(p), s"no table '$tableName' in catalog $catalogName")
    new SnapshotTable(SparkSession.active, p.toString)
  }

  /** One-row result scan for a procedure outcome. */
  private def oneRow(schema: StructType, values: Any*): java.util.Iterator[Scan] =
    java.util.List.of[Scan](new LocalScan {
      override def readSchema(): StructType = schema
      override def rows(): Array[InternalRow] =
        Array(InternalRow.fromSeq(values.toSeq))
    }).iterator()

  private val VersionOut = StructType(Seq(
    org.apache.spark.sql.types.StructField("version", LongType, nullable = false)))

  private def param(n: String, dt: DataType) =
    ProcedureParameter.in(n, dt).build()

  private def proc(procName: String, params: Seq[ProcedureParameter],
      body: InternalRow => java.util.Iterator[Scan]): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = procName
      override def description(): String = s"graft maintenance procedure $procName"
      override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
        override def name(): String = procName
        override def description(): String = s"graft maintenance procedure $procName"
        override def parameters(): Array[ProcedureParameter] = params.toArray
        override def isDeterministic: Boolean = false
        override def call(input: InternalRow): java.util.Iterator[Scan] = body(input)
      }
    }

  /** The ANN index's dispatch record: one `<t>__ann_meta` row
    * (tier, column names, PQ geometry) committed by ann_build so
    * ann_probe / ann_ingest run the right tier without the caller
    * restating build parameters. An ordinary one-row catalog table. */
  private final case class AnnMeta(tier: String, idCol: String,
    vecCol: String, k: Int, m: Int, codes: Int, dims: Int)

  private def writeAnnMeta(tbl: String, tier: String, idCol: String,
      vecCol: String, k: Int, m: Int, codes: Int, dims: Int): Unit = {
    val s = SparkSession.active
    def q(x: String) = x.replace("'", "''")
    val df = s.sql(s"SELECT '${q(tier)}' AS tier, '${q(idCol)}' AS id_col, " +
      s"'${q(vecCol)}' AS vec_col, $k AS k, $m AS m, $codes AS codes, " +
      s"$dims AS dims")
    new SnapshotTable(s, procTablePath(s"${tbl}__ann_meta").toString).commit(df)
  }

  /** Shared tier dispatch for ann_probe (member id) and
    * ann_probe_vec (arbitrary vector). ≤ k rows cross the driver — a
    * top-k is small by definition. ivf returns (id, score=cosine,
    * higher=closer); the PQ tiers return (id, adist=ADC squared-L2,
    * lower=closer) — honest column names instead of one name with
    * tier-dependent meaning. */
  private def annProbeScan(tbl: String,
      probeVec: Option[org.apache.spark.sql.DataFrame],
      probeId: Option[Long], nprobe: Int,
      topK: Int): java.util.Iterator[Scan] = {
    val spark = SparkSession.active
    val meta = readAnnMeta(tbl)
    val tier = meta.map(_.tier).getOrElse("ivf")
    def index(part: String) = Similarity.annTable(spark, annPath(tbl, part))
    // a by-id probe's vector: the member's row of the index (ivf) or of
    // the source table (the tiers whose index carries no raw vectors)
    def probeOf(rows: org.apache.spark.sql.DataFrame) =
      probeVec.getOrElse(Similarity.probeRowOf(rows, probeId.get))
    val (scoreCol, top) = tier match {
      case "ivf" =>
        requireAnnIndex(tbl, "vectors", "centroids")
        val vectors = index("vectors")
        ("score", Similarity.probeIvfIndexFor(vectors, index("centroids"),
          probeOf(vectors), probeId, nprobe, topK).collect())
      case "nsw" =>
        requireAnnIndex(tbl, "edges")
        val base = annSource(tbl, meta.get)
        ("score", Similarity.probeNswIndexFor(base, index("edges"),
          index("hubs"), probeOf(base), probeId, topK).collect())
      case "pq" | "ivf_pq" =>
        val md = meta.get
        requireAnnIndex(tbl, "codes")
        // candidates never touch a raw vector either way
        val pv = probeOf(annSource(tbl, md))
        val codes = Similarity.annUnpackFor(index("codes"))
        val df =
          if (tier == "pq")
            Similarity.probePqIndexFor(pv, index("codebooks"), codes, probeId,
              md.m, md.dims, topK)
          else
            Similarity.probeIvfPqIndexFor(pv, index("centroids"),
              index("codebooks"), codes, probeId, nprobe, md.m, md.dims, topK)
        ("adist", df.collect())
      case other => throw new IllegalArgumentException(
        s"ANN index for '$tbl' has unrecognized tier '$other' in " +
          "__ann_meta — rebuild with CALL ann_build")
    }
    java.util.List.of[Scan](new LocalScan {
      override def readSchema(): StructType = StructType(Seq(
        org.apache.spark.sql.types.StructField("id", LongType, nullable = false),
        org.apache.spark.sql.types.StructField(scoreCol,
          org.apache.spark.sql.types.DoubleType, nullable = true)))
      override def rows(): Array[InternalRow] = top.map(r =>
        InternalRow(r.getLong(0), r.getDouble(1)))
    }).iterator()
  }

  private def annPath(tbl: String, part: String): String =
    procTablePath(s"${tbl}__ann_$part").toString

  private def requireAnnIndex(tbl: String, parts: String*): Unit =
    require(parts.forall(p => isTableDir(procTablePath(s"${tbl}__ann_$p"))),
      s"no ANN index for '$tbl' — run CALL ann_build first")

  /** The index's source table as (id, vec): NSW candidate vectors and
    * by-id probe rows of the tiers whose index holds no raw vectors. */
  private def annSource(tbl: String, md: AnnMeta): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    snapshotOf(tbl).read().select(col(md.idCol).cast("long").as("id"),
      col(md.vecCol).as("vec"))
  }

  /** None for indexes that predate the meta table — treated as the
    * original IVF tier (the only one that existed then). */
  private def readAnnMeta(tbl: String): Option[AnnMeta] = {
    val p = procTablePath(s"${tbl}__ann_meta")
    if (!isTableDir(p)) None
    else {
      val r = SparkSession.active.read.format("graft-table")
        .option("path", p.toString).load().head()
      Some(AnnMeta(r.getString(0), r.getString(1), r.getString(2),
        r.getInt(3), r.getInt(4), r.getInt(5), r.getInt(6)))
    }
  }

  private lazy val procedures: Map[String, UnboundProcedure] = Map(
    "compact" -> proc("compact",
      Seq(param("table", StringType), param("target_files",
        org.apache.spark.sql.types.IntegerType)),
      in => oneRow(VersionOut,
        snapshotOf(in.getUTF8String(0).toString).compact(in.getInt(1)))),
    "expire_versions" -> proc("expire_versions",
      Seq(param("table", StringType), param("keep_last",
        org.apache.spark.sql.types.IntegerType)),
      in => {
        val t = snapshotOf(in.getUTF8String(0).toString)
        t.expireVersions(in.getInt(1))
        oneRow(VersionOut, t.currentVersion)
      }),
    "vacuum" -> proc("vacuum",
      Seq(param("table", StringType), param("retain_ms", LongType)),
      in => {
        val t = snapshotOf(in.getUTF8String(0).toString)
        t.vacuum(in.getLong(1))
        oneRow(VersionOut, t.currentVersion)
      }),
    "restore" -> proc("restore",
      Seq(param("table", StringType), param("version", LongType)),
      in => oneRow(VersionOut,
        snapshotOf(in.getUTF8String(0).toString).restore(in.getLong(1)))),
    "delete_where" -> proc("delete_where",
      Seq(param("table", StringType), param("predicate", StringType)),
      in => oneRow(VersionOut,
        snapshotOf(in.getUTF8String(0).toString)
          .delete(org.apache.spark.sql.functions.expr(
            in.getUTF8String(1).toString)))),
    "update_where" -> proc("update_where",
      // assignments as 'col = <expr>[, col = <expr>...]' — each rhs a
      // Spark SQL expression over the pre-image row
      Seq(param("table", StringType), param("predicate", StringType),
        param("assignments", StringType)),
      in => {
        val assigns = in.getUTF8String(2).toString.split(',').map { a =>
          val i = a.indexOf('=')
          require(i > 0, s"bad assignment '$a' (want col = expr)")
          a.take(i).trim -> org.apache.spark.sql.functions.expr(a.drop(i + 1))
        }.toMap
        oneRow(VersionOut,
          snapshotOf(in.getUTF8String(0).toString)
            .update(org.apache.spark.sql.functions.expr(
              in.getUTF8String(1).toString), assigns))
      }),
    "history" -> proc("history",
      Seq(param("table", StringType)),
      in => {
        val tableName = in.getUTF8String(0).toString
        val p = procTablePath(tableName)
        require(isTableDir(p), s"no table '$tableName' in catalog $catalogName")
        val md = p.resolve("_manifests")
        val hist = SnapshotTable.listCommittedAt(md).sorted.map { v =>
          val lines = SnapshotTable.manifestLinesAt(p, v)
          val op = lines.drop(2).collectFirst {
            case l if l.startsWith("#op=") => l.stripPrefix("#op=").split(' ').head
          }
          InternalRow(v,
            op.map(org.apache.spark.unsafe.types.UTF8String.fromString).orNull,
            SnapshotTable.commitTsAt(p, v) * 1000L, // micros
            SnapshotTable.manifestFilesOf(lines).size.toLong)
        }.toArray
        java.util.List.of[Scan](new LocalScan {
          override def readSchema(): StructType = StructType(Seq(
            org.apache.spark.sql.types.StructField("version", LongType, nullable = false),
            org.apache.spark.sql.types.StructField("operation", StringType, nullable = true),
            org.apache.spark.sql.types.StructField("committed_at",
              org.apache.spark.sql.types.TimestampType, nullable = false),
            org.apache.spark.sql.types.StructField("num_files", LongType, nullable = false)))
          override def rows(): Array[InternalRow] = hist
        }).iterator()
      }),
    "detail" -> proc("detail",
      // CALL cat.detail('tbl') — DESCRIBE DETAIL: one metadata-only
      // row (version, files, bytes, rows when the manifest can answer,
      // cluster key, constraints)
      Seq(param("table", StringType)),
      in => {
        val t = snapshotOf(in.getUTF8String(0).toString)
        val root = java.nio.file.Paths.get(t.root)
        val v = t.currentVersion
        val lines = SnapshotTable.manifestLinesAt(root, v)
        val files = SnapshotTable.manifestFilesOf(lines)
        val bytes = files.map { rel =>
          try java.nio.file.Files.size(root.resolve(rel))
          catch { case _: java.io.IOException => 0L }
        }.sum
        val nRows: Option[Long] =
          try Some(t.metaCount(v)) catch { case _: IllegalArgumentException => None }
        val clusterKey = lines.drop(2).collectFirst {
          case SnapshotTable.ClusterMeta(k) => k
          case SnapshotTable.ClusterPartMeta(k) => s"$k (partial)"
        }
        val cons = t.constraints.toSeq.sorted
          .map { case (n, e) => s"$n: $e" }.mkString("; ")
        def utf(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
        java.util.List.of[Scan](new LocalScan {
          override def readSchema(): StructType = StructType(Seq(
            org.apache.spark.sql.types.StructField("version", LongType, nullable = false),
            org.apache.spark.sql.types.StructField("num_files", LongType, nullable = false),
            org.apache.spark.sql.types.StructField("size_bytes", LongType, nullable = false),
            org.apache.spark.sql.types.StructField("num_rows", LongType, nullable = true),
            org.apache.spark.sql.types.StructField("cluster_key", StringType, nullable = true),
            org.apache.spark.sql.types.StructField("constraints", StringType, nullable = true)))
          override def rows(): Array[InternalRow] = Array(InternalRow(
            v, files.size.toLong, bytes,
            nRows.map(java.lang.Long.valueOf).orNull,
            clusterKey.map(utf).orNull,
            if (cons.isEmpty) null else utf(cons)))
        }).iterator()
      }),
    "compact_small" -> proc("compact_small",
      // CALL cat.compact_small('tbl', 4194304, 1) — bin-packing
      // partial OPTIMIZE: fold only files under small_bytes
      Seq(param("table", StringType), param("small_bytes", LongType),
        param("target_files", org.apache.spark.sql.types.IntegerType)),
      in => oneRow(VersionOut,
        snapshotOf(in.getUTF8String(0).toString).compactSmall(
          in.getLong(1), in.getInt(2)))),
    "add_constraint" -> proc("add_constraint",
      // CALL cat.add_constraint('tbl', 'name', 'k > 0') — Delta's
      // ALTER TABLE ADD CONSTRAINT (Spark's TableChange surface has
      // no CHECK-constraint change, so the verb rides the procedure
      // catalog like the other maintenance ops)
      Seq(param("table", StringType), param("name", StringType),
        param("expression", StringType)),
      in => oneRow(VersionOut,
        snapshotOf(in.getUTF8String(0).toString).addConstraint(
          in.getUTF8String(1).toString, in.getUTF8String(2).toString))),
    "drop_constraint" -> proc("drop_constraint",
      Seq(param("table", StringType), param("name", StringType)),
      in => oneRow(VersionOut,
        snapshotOf(in.getUTF8String(0).toString).dropConstraint(
          in.getUTF8String(1).toString))),
    "set_not_null" -> proc("set_not_null",
      // ALTER COLUMN ... SET NOT NULL: Spark's analyzer refuses a
      // nullable→non-nullable TableChange outright (CheckAnalysis),
      // so the verb rides the procedure catalog like add_constraint;
      // DROP NOT NULL flows through ALTER TABLE normally
      Seq(param("table", StringType), param("column", StringType)),
      in => oneRow(VersionOut,
        snapshotOf(in.getUTF8String(0).toString).setNotNull(
          in.getUTF8String(1).toString))),
    "drop_not_null" -> proc("drop_not_null",
      Seq(param("table", StringType), param("column", StringType)),
      in => oneRow(VersionOut,
        snapshotOf(in.getUTF8String(0).toString).dropNotNull(
          in.getUTF8String(1).toString))),
    "compact_dvs" -> proc("compact_dvs",
      Seq(param("table", StringType)),
      in => oneRow(VersionOut,
        snapshotOf(in.getUTF8String(0).toString).compactDvs())),
    "ann_build" -> proc("ann_build",
      // CALL cat.ann_build('docs', 'id', 'emb', 8[, tier[, m[, codes]]])
      // — build a persisted ANN index over a catalog table's
      // float-vector column, in one of three tiers:
      //  * 'ivf' (default): <t>__ann_vectors clustered on the coarse
      //    cluster id (one file per inverted list) + <t>__ann_centroids;
      //  * 'pq': <t>__ann_codes (8-byte-per-vector ARRAY<TINYINT>) +
      //    <t>__ann_codebooks (m×codes rows) — probe is ADC over the
      //    code table only, never a raw vector;
      //  * 'ivf_pq': residual PQ (FAISS IndexIVFPQ) — centroids +
      //    residual codebooks + cluster-clustered codes;
      //  * 'nsw': navigable-small-world graph — <t>__ann_edges
      //    (clustered on u), <t>__ann_hubs (entry layer, k rows),
      //    <t>__ann_buckets; probe = batch beam search, vectors stay
      //    in the source table (k = hub count, m = graph degree).
      // Every artifact IS an ordinary catalog table — SELECTable,
      // DESCRIBEable, versioned, vacuumable, crash-safe — plus a
      // <t>__ann_meta row (tier, columns, m, codes, dims) that
      // ann_probe/ann_ingest dispatch on. Training (Lloyd) runs HERE,
      // never per query. Rebuild = CALL again (fresh commits).
      Seq(param("table", StringType), param("id_col", StringType),
        param("vec_col", StringType), param("k",
          org.apache.spark.sql.types.IntegerType),
        ProcedureParameter.in("tier", StringType).defaultValue("'ivf'").build(),
        ProcedureParameter.in("m",
          org.apache.spark.sql.types.IntegerType).defaultValue("8").build(),
        ProcedureParameter.in("codes",
          org.apache.spark.sql.types.IntegerType).defaultValue("64").build()),
      in => {
        val tbl = in.getUTF8String(0).toString
        val t = snapshotOf(tbl)
        val idCol = in.getUTF8String(1).toString
        val vecCol = in.getUTF8String(2).toString
        val k = in.getInt(3)
        val tier = in.getUTF8String(4).toString
        val m = in.getInt(5)
        val codes = in.getInt(6)
        val spark = SparkSession.active
        def path(part: String) = annPath(tbl, part)
        // the validated (id, vec) base, its size and dims; the
        // procedures seed every tier by hash-stride nomination
        def input(mm: Int) = Similarity.annInputFor(t.read(), idCol, vecCol, mm)
        def pqArgs(): Unit = require(m >= 1 && codes >= 1 && codes <= 127,
          s"ann_build $tier needs 1 <= m and 1 <= codes <= 127, got m=$m codes=$codes")
        val parts: Seq[String] = tier match {
          case "ivf" =>
            require(k >= 1, s"ann_build needs k >= 1, got $k")
            val (base, n, dims) = input(1)
            Similarity.buildIvfIndexFor(spark, base,
              Similarity.annSeedIdsFor(base, n, k), k, path("vectors"),
              path("centroids"))
            writeAnnMeta(tbl, "ivf", idCol, vecCol, k, 0, 0, dims)
            Seq("vectors", "centroids")
          case "pq" =>
            pqArgs()
            val (base, n, dims) = input(m)
            Similarity.buildPqIndexFor(spark, base,
              Similarity.annSeedIdsFor(base, n, codes), m, dims, codes,
              path("codes"), path("codebooks"))
            writeAnnMeta(tbl, "pq", idCol, vecCol, k, m, codes, dims)
            Seq("codes", "codebooks")
          case "ivf_pq" =>
            require(k >= 1, s"ann_build needs k >= 1, got $k")
            pqArgs()
            val (base, n, dims) = input(m)
            Similarity.buildIvfPqIndexFor(spark, base,
              Similarity.annSeedIdsFor(base, n, k),
              Similarity.annSeedIdsFor(base, n, codes), k, m, dims, codes,
              path("codes"), path("codebooks"), path("centroids"))
            writeAnnMeta(tbl, "ivf_pq", idCol, vecCol, k, m, codes, dims)
            Seq("codes", "codebooks", "centroids")
          case "nsw" =>
            require(k >= 1 && m >= 1,
              s"ann_build nsw needs k (hubs) >= 1 and m (degree) >= 1, got k=$k m=$m")
            val (base, n, dims) = input(1)
            Similarity.buildNswIndexFor(spark, base,
              Similarity.annSeedIdsFor(base, n, k), m, dims, path("edges"),
              path("hubs"), path("buckets"))
            writeAnnMeta(tbl, "nsw", idCol, vecCol, k, m, 0, dims)
            Seq("edges", "hubs", "buckets")
          case other => throw new IllegalArgumentException(
            s"ann_build tier must be 'ivf', 'pq', 'ivf_pq' or 'nsw', got '$other'")
        }
        val tables = parts.map(p => s"${tbl}__ann_$p")
        def utf(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
        oneRow(StructType(Seq(
          org.apache.spark.sql.types.StructField("tables", StringType, nullable = false),
          org.apache.spark.sql.types.StructField("k", LongType, nullable = false),
          org.apache.spark.sql.types.StructField("tier", StringType, nullable = false))),
          utf(tables.mkString(",")), k.toLong, utf(tier))
      }),
    "ann_ingest" -> proc("ann_ingest",
      // CALL cat.ann_ingest('docs', 'docs_staging', 'id', 'emb', 7)
      // — incremental index maintenance: assign the staging table's
      // rows against the PERSISTED centroids (no Lloyd) and append
      // them into their clusters' files atomically; batch_id makes
      // the call exactly-once under retry (a replay returns the
      // current version unchanged). Rebuild remains the explicit
      // separate op (ann_build again).
      Seq(param("table", StringType), param("source_table", StringType),
        param("id_col", StringType), param("vec_col", StringType),
        param("batch_id", LongType)),
      in => {
        val tbl = in.getUTF8String(0).toString
        val src = snapshotOf(in.getUTF8String(1).toString)
        val idCol = in.getUTF8String(2).toString
        val vecCol = in.getUTF8String(3).toString
        val batchId = in.getLong(4)
        val spark = SparkSession.active
        val meta = readAnnMeta(tbl)
        def path(part: String) = annPath(tbl, part)
        val (v, mainPart) = meta.map(_.tier).getOrElse("ivf") match {
          case "ivf" =>
            requireAnnIndex(tbl, "vectors", "centroids")
            (Similarity.appendToIvfIndexFor(spark, path("vectors"),
              path("centroids"), src.read(), idCol, vecCol, batchId), "vectors")
          case "pq" =>
            val md = meta.get
            requireAnnIndex(tbl, "codes")
            (Similarity.appendToPqIndexFor(spark, path("codes"),
              path("codebooks"), src.read(), idCol, vecCol, md.m, md.dims,
              batchId), "codes")
          case "ivf_pq" =>
            val md = meta.get
            requireAnnIndex(tbl, "codes")
            (Similarity.appendToIvfPqIndexFor(spark, path("codes"),
              path("codebooks"), path("centroids"), src.read(), idCol, vecCol,
              md.m, md.dims, batchId), "codes")
          case "nsw" =>
            val md = meta.get
            requireAnnIndex(tbl, "edges")
            (Similarity.appendToNswIndexFor(spark, annSource(tbl, md),
              src.read(), idCol, vecCol, md.m, md.dims, path("edges"),
              path("hubs"), path("buckets"), batchId), "edges")
          case other => throw new IllegalArgumentException(
            s"ANN index for '$tbl' has unrecognized tier '$other' in " +
              "__ann_meta — rebuild with CALL ann_build")
        }
        oneRow(VersionOut, v.getOrElse(
          new SnapshotTable(spark, path(mainPart)).currentVersion))
      }),
    "ann_probe" -> proc("ann_probe",
      // CALL cat.ann_probe('docs', 42, 2, 5) — top-k cosine
      // neighbors of member row 42 from the persisted index: the
      // broadcast centroid table ranks the nprobe nearest clusters,
      // the candidate scan reads only those clusters' files (runtime
      // V2 filtering); returns (id, score). k rows cross the driver —
      // a top-k is small by definition.
      Seq(param("table", StringType), param("probe_id", LongType),
        param("nprobe", org.apache.spark.sql.types.IntegerType),
        param("k", org.apache.spark.sql.types.IntegerType)),
      in => annProbeScan(in.getUTF8String(0).toString, None,
        Some(in.getLong(1)), in.getInt(2), in.getInt(3))),
    "ann_probe_vec" -> proc("ann_probe_vec",
      // CALL cat.ann_probe_vec('docs', array(0.1, ...), 2, 5) — top-k
      // neighbors of an ARBITRARY query vector (real query vectors
      // are usually NOT corpus members): the same tier dispatch and
      // pruned plans as ann_probe, with no member exclusion. The
      // vector arrives as ARRAY<DOUBLE> (SQL's natural literal) and
      // is cast to FLOAT at this explicit boundary to match the
      // index; its length is validated against the index's dims.
      Seq(param("table", StringType),
        param("vec", org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)),
        param("nprobe", org.apache.spark.sql.types.IntegerType),
        param("k", org.apache.spark.sql.types.IntegerType)),
      in => {
        val tbl = in.getUTF8String(0).toString
        val arr = in.getArray(1).toDoubleArray().map(_.toFloat)
        readAnnMeta(tbl).filter(_.dims > 0).foreach { md =>
          require(arr.length == md.dims,
            s"ann_probe_vec: query vector has ${arr.length} dims; " +
              s"the '$tbl' index was built over ${md.dims}")
        }
        val probeVec = SparkSession.active.range(1)
          .select(org.apache.spark.sql.functions.typedlit(arr).as("vec"))
        annProbeScan(tbl, Some(probeVec), None, in.getInt(2), in.getInt(3))
      }),
    "optimize_zorder" -> proc("optimize_zorder",
      Seq(param("table", StringType), param("key_x", StringType),
        param("key_y", StringType), param("n_files",
          org.apache.spark.sql.types.IntegerType)),
      // the same key twice is a 1-D z-order: a range sort on that key
      in => oneRow(VersionOut,
        snapshotOf(in.getUTF8String(0).toString).optimizeZOrderedN(
          Seq(in.getUTF8String(1).toString, in.getUTF8String(2).toString).distinct,
          in.getInt(3)))))

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.nonEmpty) Array.empty
    else procedures.keys.toArray.sorted.map(Identifier.of(Array.empty[String], _))

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    require(ident.namespace().isEmpty, s"no such procedure: $ident")
    procedures.getOrElse(ident.name(),
      throw new IllegalArgumentException(s"no such procedure: ${ident.name()}"))
  }
}
