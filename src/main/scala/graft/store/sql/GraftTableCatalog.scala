package graft.store.sql

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.FileScanBuilder
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.store.{Catalog, StoreIO}

/** SQL front door to the COW store (Spark DataSourceV2 `TableCatalog`):
  * every consumer of the reference speaks SQL text (db.py:223-463 — all
  * seventeen access functions are embedded SQL), so interface parity
  * means `spark.sql("SELECT ... FROM <cat>.<table>")` must reach the
  * store without touching the Scala [[Catalog]] API. Register with
  *
  * {{{
  *   spark.sql.catalog.<name>       = graft.store.sql.GraftTableCatalog
  *   spark.sql.catalog.<name>.root  = <store root directory>
  * }}}
  *
  * and `SELECT * FROM <name>.users`, `... VERSION AS OF 3`,
  * `... TIMESTAMP AS OF '...'`, and `SHOW TABLES IN <name>` work.
  *
  * Design (SURVEY §2.8 interface tier):
  *  - '''Snapshot isolation''': `loadTable` captures the manifest's file
  *    list ONCE; the whole query plan — including AQE re-optimization —
  *    reads that snapshot even if writers commit mid-query (the same
  *    guarantee [[Catalog.read]] gives, now through SQL).
  *  - '''Time travel''': `VERSION AS OF v` maps to the manifest at
  *    commit `v` through the schema it had THEN; `TIMESTAMP AS OF t`
  *    resolves through [[Catalog.versionAsOf]] (micros from Spark →
  *    the store's millis domain). Vacuumed snapshots fail loudly, never
  *    partially (the [[Catalog.readAt]] contract).
  *  - '''Scan machinery is Spark's own''': the scan builder wraps the
  *    built-in DSv2 parquet source over the snapshot's exact file list,
  *    so vectorized reading, nested-column pruning, and parquet
  *    row-group/footer pushdown all apply unchanged — the graft layer
  *    adds MANIFEST-STATS file skipping on top (files whose recorded
  *    min/max provably miss the predicate are never even listed into
  *    the scan; [[GraftScanBuilder]]), deletion-vector masking and
  *    rename coalescing. The Scala [[Catalog]] readers scan through the
  *    same [[GraftTable]], so both doors share one read path.
  *  - '''Writes route through the engine, or not at all''': `INSERT
  *    INTO` lands as a [[Catalog.append]] (dense engine-assigned ids,
  *    CHECK validation, OCC — the V1 write fallback, see
  *    [[GraftTable]]); `UPDATE` / `DELETE FROM` / `MERGE INTO` route
  *    into [[Catalog.update]]/[[Catalog.delete]]/[[Catalog.merge]]
  *    via the injected [[GraftSqlDmlRule]] (merge-on-read DVs, OCC
  *    retry, changefeed pairing — nothing bypassed); DDL shapes throw
  *    pointing at the transactional Scala API rather than bypassing
  *    its guarantees silently.
  *
  * At 100 TB the scan cost profile equals the native path: the driver
  * walks the (bounded) manifest file list once for stats pruning, and
  * the executors run Spark's parquet batch scan over surviving files.
  */
final class GraftTableCatalog extends TableCatalog {

  private var catName: String = _
  private var storeRoot: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catName = name
    storeRoot = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"graft SQL catalog '$name' requires the store root: set " +
          s"spark.sql.catalog.$name.root=<store root directory>"))
  }

  override def name(): String = catName

  /** A fresh [[Catalog]] per call: construction is metadata-light, and a
    * cached instance would pin one SparkSession for the JVM's life. */
  private def cat: Catalog = new Catalog(SparkSession.active, storeRoot)

  private def requireNs(ns: Array[String]): Unit =
    if (!(ns.isEmpty || (ns.length == 1 && ns(0) == "default")))
      throw new NoSuchNamespaceException(ns)

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    requireNs(namespace)
    cat.sqlTableNames().map(t => Identifier.of(Array.empty[String], t))
      .toArray
  }

  override def loadTable(ident: Identifier): Table = tableAt(ident, None)

  /** SQL `VERSION AS OF v`. */
  override def loadTable(ident: Identifier, version: String): Table =
    tableAt(ident, Some(
      try version.toLong
      catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"VERSION AS OF on $catName.${ident.name()} takes the " +
              s"commit number (a positive integer); got '$version'")
      }))

  /** SQL `TIMESTAMP AS OF t` (Spark hands epoch MICROS). */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    tableAt(ident, Some(cat.versionAsOf(Math.floorDiv(timestamp, 1000L))))

  private def tableAt(ident: Identifier, version: Option[Long]): Table = {
    requireNs(ident.namespace())
    val c = cat
    c.sqlSnapshot(ident.name(), version) match {
      case Some((files, schema, idCol, renamedPriors)) =>
        // the surrogate id is exposed NULLABLE: reads never produce a
        // null (the engine assigns every id), but `INSERT INTO` rows
        // must carry NULL for it, and Spark validates inserted rows
        // against this schema before the write sees them
        val exposed = StructType(schema.fields.map(f =>
          if (f.name == idCol) f.copy(nullable = true) else f))
        new GraftTable(c.spark, c.io, storeRoot, ident.name(), version,
          files, exposed, idCol, renamedPriors)
      case None =>
        throw new NoSuchTableException(
          ident.namespace().toSeq :+ ident.name())
    }
  }

  private def readOnly(op: String): Nothing =
    throw new UnsupportedOperationException(
      s"graft SQL catalog '$catName' serves queries, DML " +
        s"(SELECT/INSERT/UPDATE/DELETE/MERGE) and CREATE/DROP TABLE; " +
        s"$op goes through the transactional Scala API " +
        "(graft.store.Catalog)")

  /** SQL `CREATE TABLE <cat>.<t> (...)` → [[Catalog.createTable]]: a
    * dynamic manifest-identity table. The surrogate-id column is named
    * by `TBLPROPERTIES('id_column'='<col>')` and must appear in the
    * column list as a non-nullable BIGINT; without the property a
    * leading `row_id BIGINT NOT NULL` is added (engine-assigned either
    * way — INSERT carries NULL for it).
    * `TBLPROPERTIES('stats_columns'='c1,c2')` (round 16) designates the
    * manifest-carried stats columns: every write collects per-file
    * min/max for them, so the SQL door's file skipping
    * ([[GraftScanBuilder]]), `OPTIMIZE ... ZORDER BY`, and readRange
    * pruning work on SQL-created tables exactly as on fixtures —
    * without it a dynamic table is a full-scan trap at 100 TB.
    * Partitioning clauses are rejected: layout is the engine's job
    * (compact / optimize). */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    requireNs(ident.namespace())
    if (partitions.nonEmpty)
      throw new UnsupportedOperationException(
        "PARTITIONED BY is not supported: layout is engine-managed " +
          "(Catalog.compact / Catalog.optimize cluster the files; file " +
          "stats prune reads)")
    val (full, idCol) = Option(properties.get("id_column")) match {
      case Some(c) => (schema, c)
      case None =>
        (StructType(
          org.apache.spark.sql.types.StructField("row_id",
            org.apache.spark.sql.types.LongType, nullable = false) +:
            schema.fields),
          "row_id")
    }
    val statsCols = Option(properties.get("stats_columns")).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    cat.createTable(ident.name(), full, idCol, statsCols)
    loadTable(ident)
  }

  /** SQL `ALTER TABLE <cat>.<t> ADD COLUMNS (...)` / `DROP COLUMN` →
    * the engine's schema evolution ([[Catalog]] addColumn/dropColumn):
    * pure-metadata commits — NULL backfill on read for added columns,
    * projection-drop for removed ones, per-snapshot schemas across
    * time travel. All changes of one statement land in ONE
    * transaction. Shapes the engine cannot honor faithfully (nested
    * fields, defaults, positions, comments, type changes, renames)
    * are rejected loudly. */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    requireNs(ident.namespace())
    def unsupported(what: String): Nothing =
      throw new UnsupportedOperationException(
        s"ALTER TABLE $catName.${ident.name()}: $what")
    cat.transaction { tx =>
      changes.foreach {
        case a: TableChange.AddColumn =>
          if (a.fieldNames().length != 1)
            unsupported("nested column additions are not supported")
          if (a.defaultValue() != null)
            unsupported("DEFAULT values are not supported (added " +
              "columns NULL-backfill)")
          if (a.position() != null)
            unsupported("column position is not supported (columns " +
              "append at the end)")
          if (a.comment() != null)
            unsupported("column comments are not stored")
          tx.addColumn(ident.name(), StructType(Seq(
            org.apache.spark.sql.types.StructField(a.fieldNames()(0),
              a.dataType(), a.isNullable))).fields(0))
        case d: TableChange.DeleteColumn =>
          if (d.fieldNames().length != 1)
            unsupported("nested column drops are not supported")
          tx.dropColumn(ident.name(), d.fieldNames()(0))
        case r: TableChange.RenameColumn =>
          // metadata-only rename (manifest prior-name map): reads
          // coalesce across epochs (RenameCoalescingScan)
          if (r.fieldNames().length != 1)
            unsupported("nested column renames are not supported")
          tx.renameColumn(ident.name(), r.fieldNames()(0), r.newName())
        case other =>
          unsupported(s"${other.getClass.getSimpleName} is not " +
            "supported; supported shapes: ADD COLUMNS (nullable, no " +
            "default/position/comment), DROP COLUMN, RENAME COLUMN. " +
            "Constraints go through Catalog.addCheck")
      }
    }
    loadTable(ident)
  }

  /** SQL `DROP TABLE <cat>.<t>` → [[Catalog.dropTable]] (tombstoned
    * commit; history stays time-travel-readable until vacuum). */
  override def dropTable(ident: Identifier): Boolean = {
    requireNs(ident.namespace())
    try { cat.dropTable(ident.name()); true }
    catch {
      case e: IllegalArgumentException
          if String.valueOf(e.getMessage).contains("no such table") =>
        false // DROP TABLE IF EXISTS contract: absent -> false, no throw
    }
  }

  /** SQL `ALTER TABLE <cat>.<t> RENAME TO <u>` → [[Catalog.renameTable]]
    * (round 16): one atomic manifest-key move — files by reference,
    * history below the rename readable under the old name. Registry
    * tables stay loud (identity lives in code). */
  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = {
    requireNs(oldIdent.namespace()); requireNs(newIdent.namespace())
    cat.renameTable(oldIdent.name(), newIdent.name())
  }
}

/** One store table pinned at one snapshot: the file list and schema are
  * captured at `loadTable` time (snapshot isolation across the whole
  * query, time travel = an older manifest's list + THAT version's
  * schema). Every store read scans through one: the SQL catalog's
  * `loadTable`, and the Scala [[Catalog]] readers over a
  * `DataSourceV2Relation` of their own file list.
  *
  * Writes: `INSERT INTO` is supported through the V1 write fallback and
  * routes into [[Catalog.append]] — the TRANSACTIONAL append, so SQL
  * inserts get dense engine-assigned ids, CHECK validation, and OCC
  * exactly like the Scala API (nothing is bypassed). The surrogate-id
  * column must be NULL in the inserted rows (ids are engine-assigned;
  * a caller-supplied id would be silently reassigned, so it fails
  * loudly instead). Time-travel handles and
  * `INSERT OVERWRITE` are rejected. */
private[store] final class GraftTable(spark: SparkSession, io: StoreIO,
    private[sql] val root: String,
    private[sql] val tableName: String,
    private[sql] val travelVersion: Option[Long],
    files: Vector[Catalog.SqlFile],
    tableSchema: StructType,
    private[sql] val idCol: String,
    /** Current name -> prior names (newest first) for columns whose
      * pre-rename bytes still live in at least one file: scans read
      * prior-name twins and coalesce across epochs
      * ([[RenameCoalescingScan]]); empty for clean layouts (the
      * vectorized fast path). */
    renamedPriors: Map[String, Seq[String]] = Map.empty) extends Table
    with org.apache.spark.sql.connector.catalog.SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {

  override def name(): String =
    travelVersion.map(v => s"$tableName@v$v").getOrElse(tableName)

  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new GraftScanBuilder(spark, io, root, tableName, files, tableSchema,
      idCol, options, renamedPriors)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation
              : org.apache.spark.sql.sources.InsertableRelation =
            new org.apache.spark.sql.sources.InsertableRelation {
              override def insert(data: org.apache.spark.sql.DataFrame,
                  overwrite: Boolean): Unit = {
                if (travelVersion.isDefined)
                  throw new UnsupportedOperationException(
                    s"cannot INSERT into the time-travel handle " +
                      s"$tableName@v${travelVersion.get} — write to the " +
                      "current table")
                if (overwrite)
                  throw new UnsupportedOperationException(
                    "INSERT OVERWRITE is not supported; use the " +
                      "transactional replaceWhere on graft.store.Catalog")
                val withId = data.filter(
                  org.apache.spark.sql.functions.col(idCol).isNotNull)
                  .limit(1).count()
                if (withId > 0)
                  throw new IllegalArgumentException(
                    s"'$idCol' is engine-assigned (dense ids): INSERT " +
                      s"rows must carry NULL for it — got a non-NULL " +
                      "value")
                new Catalog(spark, root)
                  .append(tableName, data.drop(idCol))
              }
            }
        }
    }
}

/** Scan builder: manifest-stats file pruning + full delegation to
  * Spark's parquet DSv2 builder over the surviving files.
  *
  * Pushdown flow: the planner hands catalyst filters here ONCE
  * ([[graft.store.sql.Dsv2Bridge]] exposes the hook); we
  *  1. prune the snapshot's file list by the manifest stats — id-column
  *     constraints against every file's (minId, maxId), designated
  *     stats columns against the Long-normalized `cols` ranges
  *     (epoch micros for timestamps), string stats against the BOUNDED
  *     `scols` ranges in UTF-8 binary order (bounds are outer, so
  *     skipping is sound; files without a stat are kept) —
  *     [[StatsPrune]];
  *  2. forward the same filters into the parquet builder, so footer
  *     min/max row-group skipping and the `PushedFilters` the plan
  *     displays are Spark's own;
  *  3. report the parquet builder's residuals upward — Spark keeps its
  *     Filter node for whatever parquet can't prove, so file pruning
  *     can never change results, only skip provably-dead IO.
  * Column pruning ([[SupportsPushDownRequiredColumns]]) delegates
  * likewise, so `ReadSchema` is minimal. */
private[sql] final class GraftScanBuilder(spark: SparkSession, io: StoreIO,
    root: String,
    tableName: String, files: Vector[Catalog.SqlFile],
    tableSchema: StructType, idCol: String,
    options: CaseInsensitiveStringMap,
    /** Current name -> prior names for columns with pre-rename bytes
      * still live; empty keeps the vectorized single-schema fast path. */
    renamedPriors: Map[String, Seq[String]] = Map.empty)
    extends Dsv2Bridge with SupportsPushDownRequiredColumns {

  private var inner: Option[FileScanBuilder] = None
  private var kept: Vector[Catalog.SqlFile] = files

  /** Nullable prior-name twin fields: included in the parquet table
    * schema so by-name resolution binds whichever name each file
    * carries (a file lacking a name NULL-backfills it) — the
    * [[RenameCoalescingScan]] read shape. */
  private val twinFields: Seq[org.apache.spark.sql.types.StructField] =
    renamedPriors.toSeq.flatMap { case (cur, priors) =>
      val dt = tableSchema(cur).dataType
      priors.map(p =>
        org.apache.spark.sql.types.StructField(p, dt, nullable = true))
    }
  private val innerTableSchema: StructType =
    if (twinFields.isEmpty) tableSchema
    else StructType(tableSchema.fields ++ twinFields)

  /** What this scan OUTPUTS (pruned schema + DV-forced id; never the
    * twins) — the coalescing wrapper projects down to it. */
  private var outSchema: StructType = tableSchema

  private def mkInner(keptNow: Vector[Catalog.SqlFile]): FileScanBuilder = {
    kept = keptNow
    val pt = ParquetTable(s"graft:$tableName", spark, options,
      keptNow.map(f => s"$root/${f.path}").toList, Some(innerTableSchema),
      classOf[ParquetFileFormat])
    val b = pt.newScanBuilder(options)
    inner = Some(b)
    b
  }

  private def innerOrAll(): FileScanBuilder =
    inner.getOrElse(mkInner(files))

  override protected def pushGraft(
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    // manifest-stats pruning sees EVERY filter (prior-name stats keep
    // renamed columns prunable across epochs)...
    val keptNow = StatsPrune.prune(files, idCol, filters, renamedPriors)
    // ...but filters touching a renamed column must NOT reach parquet
    // while stale files live: record-level filtering treats an absent
    // column as all-NULL and would silently drop every pre-rename row.
    // They stay residual — Spark's Filter node evaluates them above
    // the coalesced values.
    val (safe, onRenamed) =
      if (renamedPriors.isEmpty) (filters, Nil)
      else filters.partition(_.references.toSeq.forall(a =>
        !renamedPriors.keys.exists(_.equalsIgnoreCase(a.name))))
    forwardFilters(mkInner(keptNow), safe) ++ onRenamed
  }

  override protected def pushedDelegate: Option[FileScanBuilder] = inner

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // merge-on-read: the row mask needs the surrogate id — force it
    // into the read schema (Spark's projection above the scan restores
    // the user's column list); clean snapshots prune exactly as asked
    outSchema =
      if (kept.exists(_.dv.isDefined) &&
          !requiredSchema.fieldNames.contains(idCol))
        StructType(requiredSchema.fields :+ tableSchema(idCol))
      else requiredSchema
    // rename epochs: the inner parquet read additionally needs each
    // required renamed column's prior-name twins (coalesce inputs)
    val withTwins =
      if (renamedPriors.isEmpty) outSchema
      else StructType(outSchema.fields ++ outSchema.fields.flatMap(f =>
        renamedPriors.get(f.name).toSeq.flatten.map(p =>
          org.apache.spark.sql.types.StructField(p, f.dataType,
            nullable = true))))
    innerOrAll().pruneColumns(withTwins)
  }

  override def build(): Scan = {
    // Spark's parquet scan reports its file sizes; the wrappers pass
    // them on, so masked and renamed tables still plan broadcasts
    val scan = innerOrAll().build()
      .asInstanceOf[Scan with SupportsReportStatistics]
    val dvd = kept.filter(_.dv.isDefined)
    val masked =
      if (dvd.isEmpty) scan
      else new DvMaskedScan(scan, dvd.map(f => f.path -> f.dv.get._2).toMap,
        io.scannedToRel(root, _), idCol)
    if (renamedPriors.isEmpty) masked
    else {
      val innerRead = masked.readSchema()
      val innerOrd = innerRead.fieldNames.zipWithIndex.toMap
      val candidates = outSchema.fields.map { f =>
        (f.name +: renamedPriors.getOrElse(f.name, Nil))
          .flatMap(innerOrd.get).toArray
      }
      new RenameCoalescingScan(masked, outSchema, candidates,
        innerRead.fields.map(_.dataType))
    }
  }
}
