package graft.sources

import java.util

import graft.operators.{GraftTable, ZoneMap}
import org.apache.hadoop.fs.Path
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException,
  NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{Identifier,
  ProcedureCatalog, SupportsNamespaces, SupportsRead, SupportsWrite, Table,
  TableCapability, TableCatalog, TableChange, TruncatableTable}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure,
  ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.LocalScan
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo,
  SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A DSv2 `TableCatalog` over a directory of graft tables — the SQL
  * front door:
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft",
  *     "graft.sources.GraftCatalog")
  *   spark.conf.set("spark.sql.catalog.graft.warehouse", "/data/tables")
  *   spark.sql("CREATE TABLE graft.t (k BIGINT, v DOUBLE) " +
  *     "OPTIONS (zoneCols 'k')")
  *   spark.sql("INSERT INTO graft.t SELECT ...")
  *   spark.sql("SELECT * FROM graft.t WHERE k = 42")      -- pruned scan
  *   spark.sql("DELETE FROM graft.t WHERE k < 100")        -- via rule
  *   spark.sql("UPDATE graft.t SET v = v + 1 WHERE k = 7") -- via rule
  *   spark.sql("MERGE INTO graft.t USING s ON ...")        -- via rule
  * }}}
  * Identifiers map to paths under the catalog's `warehouse` option
  * (`graft.db.t` → `warehouse/db/t`); the on-disk layout is exactly
  * [[graft.operators.GraftTable]]'s, so the catalog, the path-based
  * `format("graft-table")` reader and the API interoperate on the same
  * tables.
  *
  * Architecture per operation. The catalog needs the session extensions
  * (`spark.sql.extensions=graft.plans.GraftExtensions`):
  *  - SELECT, and the read side of INSERT … SELECT / CTAS:
  *    [[graft.plans.GraftV2ScanStats]] plans the table as the version's
  *    `HadoopFsRelation` over a [[GraftFileIndex]] — the relation the
  *    path reader and every API read use, so pushed filters prune the
  *    manifest in one place. The connector scan builder is never used.
  *  - INSERT INTO / CTAS / INSERT OVERWRITE: [[V1Write]] →
  *    transactional `append` / atomic `replace` commits.
  *  - DELETE FROM / UPDATE / MERGE INTO: [[graft.plans.GraftSqlDml]]
  *    rewrites the resolved plans into commands on the table's own
  *    pruned rewrite (`dmlWhereCnf`) and `mergeSpec` machinery, with the
  *    EXACT condition as the residual. TRUNCATE TABLE is
  *    [[TruncatableTable]].
  *
  * Snapshot semantics: a loaded table pins the version current at
  * `loadTable` for READS (the time-travel guarantee); mutations resolve
  * the head at execution, like every API mutation.
  */
final class GraftCatalog extends TableCatalog with SupportsNamespaces
  with ProcedureCatalog with Logging {

  private var catalogName: String = _
  private var warehouse: String = _

  private def spark: SparkSession = SparkSession.active

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(sys.error(
      s"catalog $name needs option 'warehouse' " +
        s"(spark.sql.catalog.$name.warehouse = <dir of graft tables>)"))
  }

  override def name(): String = catalogName

  private def part(s: String): String = {
    require(s.nonEmpty && !s.contains("/") && s != ".." && s != ".",
      s"illegal identifier part: '$s'")
    s
  }

  private def pathFor(ident: Identifier): String =
    (warehouse +: (ident.namespace().toSeq :+ ident.name()).map(part))
      .mkString("/")

  private def fs = new Path(warehouse)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new Path((warehouse +: namespace.toSeq.map(part))
      .mkString("/"))
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(
      catalogName +: namespace.toSeq)
    fs.listStatus(dir).toSeq.filter(_.isDirectory)
      .map(st => Identifier.of(namespace, st.getPath.getName))
      .filter(id => GraftTable.exists(spark, pathFor(id)))
      .toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    GraftTable.exists(spark, pathFor(ident))

  override def loadTable(ident: Identifier): Table = {
    val p = pathFor(ident)
    if (!GraftTable.exists(spark, p)) throw new NoSuchTableException(ident)
    new GraftTableV2(spark, p, ident.toString)
  }

  /** SQL time travel, `SELECT … FROM cat.t VERSION AS OF 3`: the pinned
    * retained version, loudly validated (the retention window is the
    * travel range — never guess across a pruned gap).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val p = pathFor(ident)
    if (!GraftTable.exists(spark, p)) throw new NoSuchTableException(ident)
    val t = GraftTable.open(spark, p)
    val v = scala.util.Try(version.trim.toLong).getOrElse(sys.error(
      s"VERSION AS OF on $ident takes a numeric graft version, got " +
        s"'$version'"))
    require(t.versions().contains(v),
      s"version $v is not committed/retained under $p " +
        s"(retained: ${t.versions().mkString(", ")}) — increase " +
        "keepVersions to widen the time-travel window")
    new GraftTableV2(spark, p, s"$ident@v$v", pinned = Some(v))
  }

  /** `TIMESTAMP AS OF`: the newest retained version committed at or
    * before the timestamp (micros, per the connector contract). Commit
    * time is read from the version's `meta/_SUCCESS` marker — a file
    * stamped once at publish and never rewritten, unlike the version
    * DIRECTORY's mtime, which a rename does not update and so reflects
    * staging-time writes (skew ≲ the staging window, seconds; how the
    * public formats' commit-file mtimes behave too). Each lookup is
    * TOLERANT: a version pruned concurrently between `versions()` and
    * the stat simply drops out of the candidate set — the loud
    * "no retained version" message, never a raw FileNotFoundException
    * mid-resolution.
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val p = pathFor(ident)
    if (!GraftTable.exists(spark, p)) throw new NoSuchTableException(ident)
    val t = GraftTable.open(spark, p)
    val cutoffMs = timestampMicros / 1000L
    val hfs = new Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = t.versions().filter { w =>
      scala.util.Try(
        hfs.getFileStatus(new Path(s"$p/v$w/meta/_SUCCESS"))
          .getModificationTime <= cutoffMs).getOrElse(false)
    }.lastOption.getOrElse(sys.error(
      s"no retained version of $ident committed at or before " +
        s"timestamp $cutoffMs ms (retained: ${t.versions().mkString(", ")})"))
    new GraftTableV2(spark, p, s"$ident@v$v", pinned = Some(v))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    // `PARTITIONED BY (c1, c2)` ports as the pruning axis: IDENTITY
    // partition columns map onto zone columns (the manifest's file-
    // pruning index — the role directory partitioning plays in hive-
    // style DDL), so existing DDL runs unchanged. Non-identity
    // transforms (bucket/days/hours/truncate) have no zone analogue and
    // refuse loudly rather than silently changing layout semantics.
    val partCols = partitions.toSeq.map { tr =>
      require(tr.name == "identity",
        s"unsupported PARTITIONED BY transform ${tr.describe()} — only " +
          "identity partition columns map onto graft zone columns " +
          "(bucket/days/… have no zone analogue)")
      val refs = tr.references
      require(refs.length == 1 && refs.head.fieldNames().length == 1,
        s"PARTITIONED BY must reference one top-level column, got " +
          tr.describe())
      refs.head.fieldNames().head
    }
    def prop(key: String): Option[String] = {
      val m = properties
      Option(m.get(key)).orElse(Option(m.get(key.toLowerCase)))
        .orElse(Option(m.get(TableCatalog.OPTION_PREFIX + key)))
        .orElse(Option(m.get(TableCatalog.OPTION_PREFIX + key.toLowerCase)))
    }
    def colsOf(key: String): Seq[String] =
      prop(key).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Nil)
    val zs = (colsOf("zoneCols") ++ partCols).distinct
    val bs = colsOf("bloomCols")
    require(zs.nonEmpty || bs.nonEmpty,
      s"CREATE TABLE on catalog $catalogName needs OPTIONS " +
        "(zoneCols '<c1,c2>') and/or bloomCols — or PARTITIONED BY " +
        "(identity columns become zone columns); the manifest is the " +
        "table's pruning index")
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
    GraftTable.create(empty, pathFor(ident), zoneCols = zs, bloomCols = bs,
      keepVersions = prop("keepVersions").map(_.toInt).getOrElse(1),
      changeFeed = prop("changeFeed").forall(_.toBoolean),
      keepHours = prop("keepHours").map(_.toDouble).getOrElse(-1.0))
    loadTable(ident)
  }

  /** `ALTER TABLE … SET TBLPROPERTIES` for the lifecycle POLICIES
    * (`keepVersions` / `keepHours` / `changeFeed`) — one metadata-only
    * commit ([[GraftTable!.setPolicies]]) — and `ALTER TABLE … ADD
    * COLUMN[S]` — the ADDITIVE schema evolution the write path already
    * performs, declared by DDL first ([[GraftTable!.addColumns]]: one
    * metadata-only commit, pre-evolution rows read NULL). Every other
    * schema change (rename/retype/drop/reposition) is refused: graft
    * history is immutable parquet, it cannot re-shape.
    */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val p = pathFor(ident)
    if (!GraftTable.exists(spark, p)) throw new NoSuchTableException(ident)
    val tbl = GraftTable.open(spark, p)
    var keepV: Option[Int] = None
    var keepH: Option[Double] = None
    var feed: Option[Boolean] = None
    val added = Seq.newBuilder[org.apache.spark.sql.types.StructField]
    changes.foreach {
      case sp: TableChange.SetProperty =>
        sp.property().toLowerCase match {
          case "keepversions" => keepV = Some(sp.value().trim.toInt)
          case "keephours" => keepH = Some(sp.value().trim.toDouble)
          case "changefeed" => feed = Some(sp.value().trim.toBoolean)
          case other => throw new UnsupportedOperationException(
            s"unsupported table property '$other' — alterable policies: " +
              "keepVersions, keepHours, changeFeed")
        }
      case ac: TableChange.AddColumn =>
        require(ac.fieldNames().length == 1,
          "graft ADD COLUMN adds top-level columns only, got " +
            ac.fieldNames().mkString("."))
        require(ac.isNullable,
          s"ADD COLUMN ${ac.fieldNames().head} must be nullable — rows " +
            "written before the evolution read NULL for the new column")
        require(ac.position() == null,
          "ADD COLUMN FIRST/AFTER is not supported — additive evolution " +
            "appends at the end (parquet field order is physical)")
        added += org.apache.spark.sql.types.StructField(
          ac.fieldNames().head, ac.dataType(), nullable = true)
      case other => throw new UnsupportedOperationException(
        s"unsupported ALTER TABLE change $other — graft tables support " +
          "SET TBLPROPERTIES (keepVersions/keepHours/changeFeed) and " +
          "ADD COLUMN; other schema changes would re-shape immutable " +
          "parquet history")
    }
    val cols = added.result()
    if (cols.nonEmpty)
      tbl.addColumns(org.apache.spark.sql.types.StructType(cols))
    if (keepV.nonEmpty || keepH.nonEmpty || feed.nonEmpty)
      tbl.setPolicies(keepV, keepH, feed)
    loadTable(ident)
  }

  /** CLONE-GUARDED drop (the discipline [[GraftTable!.vacuum]] already
    * has): a shallow clone holds absolute manifest references into this
    * root, so deleting a table with live `_clones/` registrations would
    * silently break every clone — refuse and name them; `DROP TABLE …
    * PURGE` ([[purgeTable]]) is the force escape after checking the
    * clones are gone or deliberately abandoned. Dropping a table that is
    * ITSELF a clone releases its sources' registrations, so their
    * vacuum/drop guards unblock.
    */
  override def dropTable(ident: Identifier): Boolean =
    dropImpl(ident, purge = false)

  /** [[dropTable]] with the clone guard overridden — `DROP TABLE …
    * PURGE`, the `vacuum(force = true)` analogue.
    */
  override def purgeTable(ident: Identifier): Boolean =
    dropImpl(ident, purge = true)

  private def dropImpl(ident: Identifier, purge: Boolean): Boolean = {
    val pathStr = pathFor(ident)
    val p = new Path(pathStr)
    if (!fs.exists(p)) return false
    if (GraftTable.exists(spark, pathStr)) {
      val tbl = GraftTable.open(spark, pathStr)
      val clones = tbl.registeredClones()
      require(clones.isEmpty || purge,
        s"table $ident has ${clones.size} registered shallow clone(s) " +
          s"holding absolute references into its root: " +
          s"${clones.mkString(", ")} — dropping it would silently break " +
          "them. Delete/unregister the clones first, or DROP TABLE … " +
          "PURGE to force")
      // best-effort: a vanished or read-only source degrades to the
      // documented shared-fate caveat, never blocks the drop itself
      tbl.cloneSources().foreach { src =>
        try GraftTable.open(spark, src).unregisterClone(pathStr)
        catch { case _: Throwable => () }
      }
    }
    fs.delete(p, true)
  }

  /** Graft tables store manifest paths TABLE-ROOT-RELATIVE, so a rename
    * is one filesystem move — the committed table survives wholesale
    * (the [[graft.operators.GraftTable]] relative-manifest guarantee).
    * CLONE-GUARDED like [[dropTable]]: renaming a table with live
    * `_clones/` registrations refuses (the clones' absolute references
    * would dangle); renaming a table that IS a clone succeeds — its
    * absolute references into the source still resolve after the move —
    * and RE-REGISTERS the new destination with each source, so the
    * source-side guards keep protecting the moved clone.
    */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    val oldPath = pathFor(oldIdent)
    val newPath = pathFor(newIdent)
    val tbl = GraftTable.open(spark, oldPath)
    val clones = tbl.registeredClones()
    require(clones.isEmpty,
      s"table $oldIdent has ${clones.size} registered shallow clone(s) " +
        s"holding absolute references into its root: " +
        s"${clones.mkString(", ")} — renaming it would silently break " +
        "them. Delete/unregister the clones (GraftTable.unregisterClone) " +
        "before renaming the source")
    val sources = tbl.cloneSources()
    require(fs.rename(new Path(oldPath), new Path(newPath)),
      s"rename failed: $oldPath -> $newPath")
    sources.foreach { src =>
      try {
        val s = GraftTable.open(spark, src)
        s.unregisterClone(oldPath)
        GraftTable.registerClone(spark, src, newPath)
      } catch { case _: Throwable => () }
    }
  }

  // --------------------------------------------------------- namespaces --

  override def defaultNamespace(): Array[String] = Array.empty

  override def listNamespaces(): Array[Array[String]] = {
    val dir = new Path(warehouse)
    if (!fs.exists(dir)) Array.empty
    else fs.listStatus(dir).toSeq.filter(_.isDirectory)
      .filterNot(st => GraftTable.exists(spark,
        s"$warehouse/${st.getPath.getName}"))
      .map(st => Array(st.getPath.getName)).toArray
  }

  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty ||
      fs.exists(new Path((warehouse +: namespace.toSeq.map(part))
        .mkString("/")))

  override def loadNamespaceMetadata(namespace: Array[String])
      : util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(catalogName +: namespace.toSeq)
    util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    fs.mkdirs(new Path((warehouse +: namespace.toSeq.map(part))
      .mkString("/")))
    ()
  }

  override def alterNamespace(namespace: Array[String],
      changes: org.apache.spark.sql.connector.catalog.NamespaceChange*)
      : Unit =
    throw new UnsupportedOperationException(
      "graft namespaces are plain directories — nothing to alter")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    val p = new Path((warehouse +: namespace.toSeq.map(part)).mkString("/"))
    if (!fs.exists(p)) false
    else {
      require(cascade || fs.listStatus(p).isEmpty,
        s"namespace ${namespace.mkString(".")} is not empty — " +
          "use CASCADE")
      fs.delete(p, true)
    }
  }

  // --------------------------------------------------------- procedures --
  // `CALL cat.vacuum(table => 't')` — the maintenance verbs that have no
  // DML sentence, on Spark 4's ProcedureCatalog contract (the public
  // formats' `CALL system.…` shape). The `table` argument is an
  // identifier relative to this catalog ("db.t" or "t").

  override def listProcedures(namespace: Array[String])
      : Array[Identifier] =
    if (namespace.isEmpty)
      GraftProcedures.Names.map(Identifier.of(Array.empty[String], _))
        .toArray
    else Array.empty

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    require(ident.namespace().isEmpty &&
      GraftProcedures.Names.contains(ident.name()),
      s"unknown procedure $ident — graft procedures: " +
        GraftProcedures.Names.mkString(", "))
    GraftProcedures.load(this, ident.name())
  }

  private[sources] def openByName(table: String): GraftTable = {
    val parts = table.split("\\.").toSeq
    val id = Identifier.of(parts.init.toArray, parts.last)
    val p = pathFor(id)
    if (!GraftTable.exists(spark, p)) throw new NoSuchTableException(id)
    GraftTable.open(spark, p)
  }
}

/** The maintenance procedures ([[GraftCatalog.loadProcedure]]): each is
  * one `BoundProcedure` whose `call` runs the table API and returns its
  * report as a [[LocalScan]] — rows the engine serves as the CALL's
  * result set.
  */
private[sources] object GraftProcedures {
  import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType,
    StringType, StructField}
  import org.apache.spark.unsafe.types.UTF8String

  val Names: Seq[String] = Seq("vacuum", "history", "compact", "zorder")

  /** The compact WHERE as zone preds: parsed, resolved against the
    * table and constant-folded, then translated by
    * [[graft.plans.DmlExpr.toCnf]], the one Catalyst translator. Only a
    * plain conjunction of prunable comparisons passes; anything else
    * refuses loudly — a silent no-prune would quietly rewrite the whole
    * table, the opposite of a stripe-scoped compact.
    */
  private def wherePreds(tbl: GraftTable, where: String)
      : Seq[ZoneMap.Pred] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val cond = tbl.read().filter(where).queryExecution.analyzed match {
      case Filter(c, _) => c.transformDown {
        case e if e.foldable => Literal.create(e.eval(), e.dataType)
      }
    }
    graft.plans.DmlExpr.toCnf(Seq(cond)).map {
      case Seq(Seq(p)) => p
      case _ => sys.error(s"unsupported compact WHERE shape: $where — " +
        "conjunctions of <zone col> (=|<|<=|>|>=) <literal> only")
    }
  }

  private def param(n: String, dt: org.apache.spark.sql.types.DataType,
      default: Option[String] = None): ProcedureParameter = {
    val b = ProcedureParameter.in(n, dt)
    default.foreach(b.defaultValue)
    b.build()
  }

  private def scanOf(schema: StructType,
      out: Seq[InternalRow]): java.util.Iterator[
      org.apache.spark.sql.connector.read.Scan] =
    java.util.Collections.singletonList(new LocalScan {
      override def readSchema(): StructType = schema
      override def rows(): Array[InternalRow] = out.toArray
    }: org.apache.spark.sql.connector.read.Scan).iterator()

  private def bound(procName: String, params: Seq[ProcedureParameter],
      body: InternalRow => (StructType, Seq[InternalRow]))
      : UnboundProcedure = new UnboundProcedure {
    override def name(): String = procName
    override def bind(inputType: StructType): BoundProcedure =
      new BoundProcedure {
        override def name(): String = procName
        override def parameters(): Array[ProcedureParameter] =
          params.toArray
        override def isDeterministic: Boolean = false
        override def call(input: InternalRow): java.util.Iterator[
            org.apache.spark.sql.connector.read.Scan] = {
          val (schema, rows) = body(input)
          scanOf(schema, rows)
        }
      }
  }

  def load(cat: GraftCatalog, name: String): UnboundProcedure = name match {
    case "vacuum" =>
      // vacuum(table, force = false, dry_run = false): dry_run returns
      // the would-delete paths; a real vacuum returns the deleted count
      // (and refuses on a cloned source unless force)
      bound("vacuum", Seq(param("table", StringType),
        param("force", BooleanType, Some("false")),
        param("dry_run", BooleanType, Some("false"))), { in =>
        val tbl = cat.openByName(in.getUTF8String(0).toString)
        val force = !in.isNullAt(1) && in.getBoolean(1)
        val dry = !in.isNullAt(2) && in.getBoolean(2)
        if (dry)
          (StructType(Seq(StructField("path", StringType))),
            tbl.vacuumDryRun().map(p =>
              InternalRow(UTF8String.fromString(p))))
        else
          (StructType(Seq(StructField("files_deleted", LongType))),
            Seq(InternalRow(tbl.vacuum(force))))
      })
    case "history" =>
      bound("history", Seq(param("table", StringType)), { in =>
        val tbl = cat.openByName(in.getUTF8String(0).toString)
        (StructType(Seq(StructField("version", LongType),
          StructField("operation", StringType),
          StructField("files", IntegerType))),
          tbl.history().orderBy("version").collect().toSeq.map(r =>
            InternalRow(r.getLong(0),
              UTF8String.fromString(r.getString(1)), r.getInt(2))))
      })
    case "compact" =>
      // compact(table, target_rows[, where, sort_cols]): whole-table
      // pass by default; a `where` predicate scopes it to the matching
      // zone stripe ([[GraftTable!.compactWhere]] — the `OPTIMIZE …
      // WHERE` form: stripe-by-stripe debt payment, the only way
      // compaction scales at 100 TB)
      bound("compact", Seq(param("table", StringType),
        param("target_rows", LongType),
        param("where", StringType, Some("null")),
        param("sort_cols", StringType, Some("null"))), { in =>
        val tbl = cat.openByName(in.getUTF8String(0).toString)
        val sortCols =
          if (in.isNullAt(3)) Nil
          else in.getUTF8String(3).toString.split(",").map(_.trim)
            .filter(_.nonEmpty).toSeq
        if (in.isNullAt(2)) {
          val (before, after) = tbl.compact(in.getLong(1), sortCols)
          (StructType(Seq(StructField("files_before", LongType),
            StructField("files_after", LongType))),
            Seq(InternalRow(before, after)))
        } else {
          val preds = wherePreds(tbl, in.getUTF8String(2).toString)
          val (rew, carried) =
            tbl.compactWhere(preds, in.getLong(1), sortCols)
          (StructType(Seq(StructField("files_rewritten", LongType),
            StructField("files_carried", LongType))),
            Seq(InternalRow(rew, carried)))
        }
      })
    case "zorder" =>
      // zorder(table, cols, n_files[, bits]): the SQL door for
      // [[GraftTable!.zorder]] (the `OPTIMIZE … ZORDER BY` verb) — one
      // atomic relayout along the Z-curve of `cols`, after which the
      // manifest prunes on ANY interleaved column
      bound("zorder", Seq(param("table", StringType),
        param("cols", StringType), param("n_files", IntegerType),
        param("bits", IntegerType, Some("16"))), { in =>
        val tbl = cat.openByName(in.getUTF8String(0).toString)
        val cols = in.getUTF8String(1).toString.split(",").map(_.trim)
          .filter(_.nonEmpty).toSeq
        require(cols.nonEmpty, "zorder needs at least one column")
        tbl.zorder(cols, in.getInt(2),
          if (in.isNullAt(3)) 16 else in.getInt(3))
        (StructType(Seq(StructField("version", LongType),
          StructField("files", LongType))),
          Seq(InternalRow(tbl.version, tbl.files().size.toLong)))
      })
  }
}

/** One catalog-resolved graft table: reads pin the version current at
  * load — or the `pinned` time-travel version — (snapshot semantics);
  * writes and DML resolve the head at execution. See [[GraftCatalog]]
  * for the contract map.
  */
final class GraftTableV2(spark: SparkSession, val tablePath: String,
    ident: String, pinned: Option[Long] = None) extends Table
  with SupportsRead with SupportsWrite with TruncatableTable {

  private[graft] val tbl = GraftTable.open(spark, tablePath)
  private val snapshot = pinned.getOrElse(tbl.version)

  /** The pinned read version — [[graft.plans.GraftV2ScanStats]] plans
    * reads as this version's relation.
    */
  private[graft] def snapshotVersion: Long = snapshot

  override def name(): String = ident

  override val schema: StructType = tbl.schemaAt(snapshot)

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  /** Surfaced by `SHOW TBLPROPERTIES`: the pinned snapshot plus the
    * table's index geometry and lifecycle policies (the alterable ones
    * round-trip through `ALTER TABLE … SET TBLPROPERTIES`).
    */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    m.put("path", tablePath)
    m.put("version", snapshot.toString)
    val (keepV, keepH, feed) = tbl.policies()
    m.put("keepVersions", keepV.toString)
    m.put("keepHours", keepH.toString)
    m.put("changeFeed", feed.toString)
    val (zc, bc) = tbl.indexedCols()
    m.put("zoneCols", zc.mkString(","))
    m.put("bloomCols", bc.mkString(","))
    m
  }

  /** Never reached in a session with the graft extensions:
    * [[graft.plans.GraftV2ScanStats]] plans every read of this table as
    * its version's `HadoopFsRelation` before Spark asks for a scan.
    */
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    throw new UnsupportedOperationException(s"reading graft table $ident " +
      "needs the session extensions: set " +
      "spark.sql.extensions=graft.plans.GraftExtensions")

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftV2WriteBuilder(tbl)

  override def truncateTable(): Boolean = {
    tbl.replace(tbl.read().limit(0))
    true
  }

  override def toString: String = s"GraftTableV2[$ident @ $tablePath]"
}

/** INSERT INTO → transactional append; INSERT OVERWRITE / CTAS-replace →
  * atomic `replace` commit (`truncate()` flips the mode — Spark calls it
  * for the literal-true overwrite INSERT OVERWRITE plans to).
  */
final class GraftV2WriteBuilder(tbl: GraftTable) extends WriteBuilder
  with SupportsTruncate {

  private var overwrite = false

  override def truncate(): WriteBuilder = { overwrite = true; this }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, ovw: Boolean): Unit =
          if (overwrite || ovw) tbl.replace(data) else tbl.append(data)
      }
  }
}
