package graft.sources

import java.util.{Map => JMap}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Catalog plugin exposing a warehouse directory of [[LakeTable]]s to
  * SQL — the parser path of the DSv2 surface:
  * {{{
  *   spark.conf.set("spark.sql.catalog.lake",
  *     "graft.sources.GraftLakeCatalog")
  *   spark.conf.set("spark.sql.catalog.lake.warehouse", "/data/lake")
  *   spark.sql("SELECT * FROM lake.orders")                 -- latest
  *   spark.sql("SELECT * FROM lake.orders VERSION AS OF 1") -- time travel
  * }}}
  *
  * Each `<warehouse>/<name>` directory holding a `_versions/` manifest
  * dir is a table; `VERSION AS OF n` resolves through the standard DSv2
  * time-travel hook (`loadTable(ident, version)`), so the SQL syntax,
  * the format path's `versionAsOf` option and the LakeTable API all read
  * the same snapshot. SQL statements that map onto the commit protocol
  * are supported — CREATE TABLE/CTAS, INSERT INTO, INSERT OVERWRITE
  * (full and banded — see [[GraftLakeTable.filtersToBand]]), DELETE,
  * UPDATE, MERGE INTO, ALTER TABLE ADD COLUMNS — each landing as a
  * normal versioned commit (an overwrite commits a NEW version; every
  * prior one stays time-travelable); history-REWRITING statements
  * (DROP/RENAME/non-additive ALTER) throw, keeping every manifest
  * version immutable once written.
  *
  * Scale note: resolution cost is one directory listing + one manifest
  * read at planning time; the scan is the same lake scan
  * ([[GraftDvBatchScan]]) as the format path and the Scala API.
  */
final class GraftLakeCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires spark.sql.catalog.$name.warehouse"))
  }

  override def name(): String = catalogName

  /** Tables live directly under the warehouse; the empty and "default"
    * namespaces are interchangeable. */
  private def requireFlat(namespace: Array[String]): Unit =
    require(namespace.isEmpty || namespace.sameElements(Array("default")),
      s"graft-lake catalog has no namespace ${namespace.mkString(".")}")

  private def rootOf(ident: Identifier): String = {
    requireFlat(ident.namespace())
    new Path(warehouse, ident.name()).toString
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    requireFlat(namespace)
    val spark = SparkSession.active
    val wh = new Path(warehouse)
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(wh)) Array.empty
    else fs.listStatus(wh).toSeq
      .filter(st => st.isDirectory &&
        fs.exists(new Path(st.getPath, "_versions")))
      .map(st => Identifier.of(namespace, st.getPath.getName))
      .sortBy(_.name())
      .toArray
  }

  /** Missing tables surface as the DSv2-contract NoSuchTableException so
    * Spark's resolution paths (which catch exactly that type) can
    * translate it into TABLE_OR_VIEW_NOT_FOUND or probe-and-fallback. */
  private def load(ident: Identifier, version: Option[Int]): Table = {
    val spark = SparkSession.active
    val root = rootOf(ident)
    val v = try LakeTable.existingVersion(spark, root, version)
      catch {
        case _: IllegalStateException =>
          throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
            ident.namespace() :+ ident.name())
      }
    // both tables read through the lake scan; a snapshot with deletion
    // vectors or equality deletes takes the table whose row-level DML
    // stacks merge-on-read commits ([[GraftDvLakeTable]])
    if (LakeTable.nativeDvOk(LakeTable.manifestMetaAt(spark, root, v)))
      new GraftDvLakeTable(ident.toString, root, version)
    else new GraftLakeTable(root, version, catalog = true)
  }

  override def loadTable(ident: Identifier): Table = load(ident, None)

  /** `VERSION AS OF n` — Spark routes the SQL time-travel clause here. */
  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, Some(version.toInt))

  /** `TIMESTAMP AS OF t` — resolves to the newest version whose commit
    * (manifest mtime) is at or before `t`
    * ([[LakeTable.versionAtTimestamp]]); micros from Spark's parser. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table =
    load(ident, Some(LakeTable.versionAtTimestamp(
      SparkSession.active, rootOf(ident), timestampMicros)))

  override def tableExists(ident: Identifier): Boolean =
    try { LakeTable.latestVersion(SparkSession.active, rootOf(ident)).nonEmpty }
    catch { case _: IllegalArgumentException => false }

  private def readOnly(op: String): Nothing =
    throw new UnsupportedOperationException(
      s"graft-lake catalog keeps history immutable: $op is not " +
        "supported (table versions are never rewritten or dropped)")

  /** `CREATE TABLE` (and the create half of CTAS — Spark follows with a
    * write through [[GraftLakeTable.newWriteBuilder]]): version 1 holds
    * the declared schema and no data ([[LakeTable.createEmpty]]).
    * `PARTITIONED BY (a, b, …)` — identity transforms — declares the
    * partition columns in the v1 manifest; every later INSERT/append
    * routes rows to one file group per value TUPLE and all
    * partition-pruning paths apply on any subset of the columns
    * ([[LakeTable.partAdmit]]). Bucket/expression transforms reject —
    * those layouts are the API's job (`LakeTable.createClustered`,
    * Z-order compact). */
  /** FunctionCatalog: exposes the `bucket` transform function so the
    * SPJ planner can resolve the `bucket(n, col)` layout bucketed
    * tables report (Iceberg's system-function mechanism). */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, "bucket"))
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name.equalsIgnoreCase("bucket")) GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  /** The declared layout: identity partition columns OR one
    * `bucket(n, col)` transform (never both). */
  /** Parse the PARTITIONED BY transform list into (identity-or-
    * transformed column specs, optional bucket layout). Specs are
    * (source column, transform) pairs with transform ∈ `id` | `days`
    * | `months` | `years` | `trunc:<w>` ([[LakeTable.parttransAt]]). */
  private def layoutOf(ident: Identifier, partitions: Array[Transform])
      : (Seq[(String, String)], Option[(String, Int)]) = {
    def intLit(t: Transform, what: String): Int = t.arguments.collectFirst {
      case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
        l.value() match {
          case i: java.lang.Integer => i.toInt
          case l2: java.lang.Long => l2.toInt
          case other => throw new UnsupportedOperationException(
            s"CREATE TABLE $ident: $what must be an integer " +
              s"literal, got $other")
        }
    }.getOrElse(throw new UnsupportedOperationException(
      s"CREATE TABLE $ident: $what needs a literal argument"))
    val specs = partitions.toSeq.map {
      case t if t.name == "identity" && t.references.length == 1 &&
          t.references.head.fieldNames.length == 1 =>
        t.references.head.fieldNames.head -> "id"
      case t if Set("days", "months", "years")(t.name) &&
          t.references.length == 1 &&
          t.references.head.fieldNames.length == 1 =>
        t.references.head.fieldNames.head -> t.name
      case t if t.name == "truncate" && t.references.length == 1 &&
          t.references.head.fieldNames.length == 1 =>
        t.references.head.fieldNames.head ->
          s"trunc:${intLit(t, "truncate width")}"
      case t if t.name == "bucket" && t.references.length == 1 &&
          t.references.head.fieldNames.length == 1 =>
        t.references.head.fieldNames.head ->
          s"bucket:${intLit(t, "bucket count")}"
      case other => throw new UnsupportedOperationException(
        s"CREATE TABLE $ident: only PARTITIONED BY (<plain columns>" +
          ", days/months/years(col), truncate(w, col), bucket(n, col)" +
          s") is supported, got $other — use " +
          "LakeTable.createClustered for expression layouts")
    }
    specs match {
      // a LONE bucket transform keeps the dedicated bucket layout
      // (bucketcol/bucketn manifest keys, q355 semantics); a bucket
      // MIXED with identity/time components routes as a composite
      // tuple through the transform machinery (the day x bucket
      // 100 TB fact layout)
      case Seq((bc, t)) if t.startsWith("bucket:") =>
        (Nil, Some((bc, t.drop("bucket:".length).toInt)))
      case _ => (specs, None)
    }
  }

  private def partColsOf(ident: Identifier,
                         partitions: Array[Transform]): Seq[String] =
    layoutOf(ident, partitions) match {
      case (specs, None) if specs.forall(_._2 == "id") => specs.map(_._1)
      case (_, None) => throw new UnsupportedOperationException(
        s"$ident: transformed partition layouts are not supported on " +
          "this statement path — use plain CREATE TABLE … PARTITIONED " +
          "BY (days(c)/…)")
      case (_, Some(_)) => throw new UnsupportedOperationException(
        s"$ident: bucket layouts are not supported on this statement " +
          "path — use plain CREATE TABLE … PARTITIONED BY (bucket(n, c))")
    }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: JMap[String, String]): Table = {
    layoutOf(ident, partitions) match {
      case (_, Some((bc, n))) =>
        LakeTable.createEmptyBucketed(SparkSession.active, rootOf(ident),
          schema, bc, n)
      case (specs, None) if specs.forall(_._2 == "id") =>
        LakeTable.createEmpty(SparkSession.active, rootOf(ident), schema,
          specs.map(_._1))
      case (specs, None) =>
        LakeTable.createEmptyPartitionedTransformed(SparkSession.active,
          rootOf(ident), schema, specs)
    }
    loadTable(ident)
  }

  /** The Column[] overload Spark routes CREATE TABLE through when the
    * column list carries declarative semantics — `DEFAULT <expr>`,
    * `GENERATED ALWAYS AS (expr)`, `GENERATED ALWAYS AS IDENTITY
    * (START WITH s INCREMENT BY i)` (the catalog declares the matching
    * capabilities, so the parser accepts the syntax). Each declaration
    * lands as the SAME metadata-only commit the Scala API makes
    * ([[LakeTable.setColumnDefault]] / [[LakeTable.setGeneratedColumn]]
    * / [[LakeTable.setIdentity]]) right after the empty create, so SQL
    * and API tables are byte-identical in the manifest. `GENERATED BY
    * DEFAULT AS IDENTITY` refuses: the engine's identity contract is
    * ALWAYS (explicit ids would silently fork the high-water mark). */
  override def createTable(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform],
      properties: JMap[String, String]): Table = {
    val spark = SparkSession.active
    val root = rootOf(ident)
    val schema = StructType(columns.map(c =>
      org.apache.spark.sql.types.StructField(c.name, c.dataType,
        c.nullable)).toSeq)
    columns.foreach { c =>
      Option(c.identityColumnSpec()).foreach { i =>
        if (i.isAllowExplicitInsert) throw new UnsupportedOperationException(
          s"CREATE TABLE $ident: GENERATED BY DEFAULT AS IDENTITY is not " +
            "supported — identity columns are GENERATED ALWAYS (engine-" +
            "stamped; explicit inserts would fork the high-water mark)")
      }
    }
    layoutOf(ident, partitions) match {
      case (_, Some((bc, n))) =>
        LakeTable.createEmptyBucketed(spark, root, schema, bc, n)
      case (specs, None) if specs.forall(_._2 == "id") =>
        LakeTable.createEmpty(spark, root, schema, specs.map(_._1))
      case (specs, None) =>
        LakeTable.createEmptyPartitionedTransformed(spark, root, schema,
          specs)
    }
    columns.foreach { c =>
      Option(c.defaultValue()).foreach(d =>
        LakeTable.setColumnDefault(spark, root, c.name, d.getSql))
      Option(c.generationExpression()).foreach(g =>
        LakeTable.setGeneratedColumn(spark, root, c.name, g))
      Option(c.identityColumnSpec()).foreach(i =>
        LakeTable.setIdentity(spark, root, c.name, i.getStart, i.getStep))
    }
    loadTable(ident)
  }

  /** Catalog capabilities: declare DSv2 constraint + default-value
    * support so Spark's SQL paths route `ALTER TABLE … ADD CONSTRAINT`
    * and `… SET/DROP DEFAULT` here instead of failing analysis. */
  override def capabilities(): java.util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORT_TABLE_CONSTRAINT,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORT_COLUMN_DEFAULT_VALUE,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS)

  /** History-safe SQL DDL, each routed to its metadata-only commit:
    *
    *  - `ADD COLUMNS` → [[LakeTable.evolveSchema]] (old groups read
    *    typed nulls; time travel keeps the old shape);
    *  - `RENAME COLUMN` → [[LakeTable.renameColumn]] (column-mapping
    *    commit — no parquet byte rewritten);
    *  - `DROP COLUMN` → [[LakeTable.dropColumn]] (metadata-only drop);
    *  - `ALTER COLUMN … SET/DROP DEFAULT` →
    *    [[LakeTable.setColumnDefault]]/[[LakeTable.dropColumnDefault]];
    *  - `ADD CONSTRAINT … CHECK (p)` → [[LakeTable.addCheckConstraint]];
    *  - `ADD CONSTRAINT … UNIQUE (c)` → [[LakeTable.addUniqueConstraint]].
    *
    * Everything else rejects: retypes would rewrite history, and
    * `DROP CONSTRAINT` is refused by the same append-only governance
    * posture the API documents (quality gates only tighten). */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val spark = SparkSession.active
    val root = rootOf(ident)
    def single(fieldNames: Array[String], what: String): String = {
      require(fieldNames.length == 1,
        s"nested $what not supported: ${fieldNames.mkString(".")}")
      fieldNames.head
    }
    // SET/UNSET TBLPROPERTIES batch into ONE metadata-only commit each
    val setProps = changes.collect { case p: TableChange.SetProperty => p }
    if (setProps.nonEmpty) {
      require(setProps.size == changes.size,
        s"ALTER TABLE $ident: SET TBLPROPERTIES cannot mix with other " +
          "changes")
      LakeTable.setProperties(spark, root,
        setProps.map(p => p.property -> p.value).toMap)
      return loadTable(ident)
    }
    val rmProps = changes.collect { case p: TableChange.RemoveProperty => p }
    if (rmProps.nonEmpty) {
      require(rmProps.size == changes.size,
        s"ALTER TABLE $ident: UNSET TBLPROPERTIES cannot mix with other " +
          "changes")
      LakeTable.unsetProperties(spark, root, rmProps.map(_.property))
      return loadTable(ident)
    }
    val adds = changes.collect { case a: TableChange.AddColumn => a }
    if (adds.nonEmpty) {
      require(adds.size == changes.size,
        s"ALTER TABLE $ident: ADD COLUMNS cannot mix with other changes")
      adds.foreach { a =>
        single(a.fieldNames, "ADD COLUMN")
        require(a.isNullable,
          s"added column ${a.fieldNames.head} must be nullable " +
            "(existing rows read it as null)")
      }
      LakeTable.evolveSchema(spark, root, StructType(adds.map(a =>
        org.apache.spark.sql.types.StructField(
          a.fieldNames.head, a.dataType, nullable = true)).toArray))
      return loadTable(ident)
    }
    changes.foreach {
      case r: TableChange.RenameColumn =>
        LakeTable.renameColumn(spark, root,
          single(r.fieldNames, "RENAME COLUMN"), r.newName)
      case d: TableChange.DeleteColumn =>
        LakeTable.dropColumn(spark, root,
          single(d.fieldNames, "DROP COLUMN"))
      case u: TableChange.UpdateColumnDefaultValue =>
        val c = single(u.fieldNames, "ALTER COLUMN")
        val sql = Option(u.newDefaultValue).map(_.trim).getOrElse("")
        if (sql.isEmpty) LakeTable.dropColumnDefault(spark, root, c)
        else LakeTable.setColumnDefault(spark, root, c, sql)
      case a: TableChange.AddConstraint => a.constraint() match {
        case chk: org.apache.spark.sql.connector.catalog.constraints.Check =>
          LakeTable.addCheckConstraint(spark, root, chk.name,
            chk.predicateSql)
        case u: org.apache.spark.sql.connector.catalog.constraints.Unique =>
          require(u.columns().length == 1,
            s"multi-column UNIQUE not supported: ${u.toDDL}")
          LakeTable.addUniqueConstraint(spark, root, u.name,
            u.columns().head.fieldNames().mkString("."))
        case other => readOnly(
          s"ALTER TABLE $ident ADD CONSTRAINT ${other.toDDL} " +
            "(only CHECK and single-column UNIQUE are supported)")
      }
      case _: TableChange.DropConstraint => readOnly(
        s"ALTER TABLE $ident DROP CONSTRAINT (quality gates are " +
          "append-only — constraints only tighten)")
      case other => readOnly(s"ALTER TABLE $ident ($other)")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    readOnly(s"DROP TABLE $ident")

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    readOnly(s"RENAME TABLE $oldIdent")

  // ---- StagingTableCatalog: atomic CTAS / REPLACE / CREATE OR REPLACE

  /** `REPLACE TABLE` / `CREATE OR REPLACE TABLE [AS SELECT]` route here
    * because the catalog implements
    * [[org.apache.spark.sql.connector.catalog.StagingTableCatalog]] —
    * withOUT it Spark would fall back to non-atomic drop+create, which
    * this catalog's history-immutability posture refuses at dropTable.
    * The staged commit is HISTORY-PRESERVING (Delta semantics): the
    * replacement lands as the next version of the same table and every
    * pre-replace snapshot stays time-travelable, while the live
    * definition resets completely ([[LakeTable.replaceTable]]). The
    * staged table captures the query's DataFrame at write time and
    * runs the data job inside `commitStagedChanges`, so a failed query
    * publishes nothing and abort has nothing to clean. */
  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: JMap[String, String]): org.apache.spark.sql.connector
      .catalog.StagedTable =
    new GraftStagedTable(ident, rootOf(ident), schema,
      partColsOf(ident, partitions), replace = false, orCreate = false)

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: JMap[String, String]): org.apache.spark.sql.connector
      .catalog.StagedTable =
    new GraftStagedTable(ident, rootOf(ident), schema,
      partColsOf(ident, partitions), replace = true, orCreate = false)

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: JMap[String, String]): org.apache.spark.sql.connector
      .catalog.StagedTable =
    new GraftStagedTable(ident, rootOf(ident), schema,
      partColsOf(ident, partitions), replace = true, orCreate = true)
}

/** Staged table for the atomic CTAS/REPLACE paths. Spark drives it as:
  * `newWriteBuilder` → V1 insert (which only CAPTURES the DataFrame —
  * no bytes move) → `commitStagedChanges` (existence check + data write
  * + manifest commit through the standard primitives — the commit is
  * the atomic publish point) or `abortStagedChanges` (nothing was
  * written, nothing to clean). A `REPLACE TABLE` with no AS SELECT
  * commits the declared schema with zero rows
  * ([[LakeTable.replaceTableEmpty]]). */
private[sources] final class GraftStagedTable(
    ident: Identifier, root: String,
    declaredSchema: StructType, partCols: Seq[String],
    replace: Boolean, orCreate: Boolean)
    extends org.apache.spark.sql.connector.catalog.StagedTable
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  import org.apache.spark.sql.connector.catalog.TableCapability

  private var batch: Option[org.apache.spark.sql.DataFrame] = None

  override def name(): String = ident.toString
  override def schema(): StructType = declaredSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsTruncate {
      // RTAS plans its staged write as a truncate-overwrite; on a
      // staged REPLACE the truncation IS the replace semantics, so
      // the flag carries no extra information
      override def truncate()
          : org.apache.spark.sql.connector.write.WriteBuilder = this
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation
              : org.apache.spark.sql.sources.InsertableRelation =
            new org.apache.spark.sql.sources.InsertableRelation {
              override def insert(data: org.apache.spark.sql.DataFrame,
                                  overwrite: Boolean): Unit = {
                batch = Some(data)
              }
            }
        }
    }

  override def commitStagedChanges(): Unit = {
    val spark = SparkSession.active
    val exists = LakeTable.latestVersion(spark, root).isDefined
    if (exists && !replace)
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident.namespace() :+ ident.name())
    if (!exists && replace && !orCreate)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ident.namespace() :+ ident.name())
    if (exists && replace) batch match {
      case Some(df) => LakeTable.replaceTable(spark, root, df, partCols)
      case None =>
        LakeTable.replaceTableEmpty(spark, root, declaredSchema, partCols)
    } else {
      // CTAS on a missing table publishes create + data as ONE logical
      // unit: the table did not exist before this staged create, so if
      // the data job fails after the empty create landed, the half-made
      // table is torn down whole — a failed CTAS publishes nothing
      // (Delta's staged-commit semantics; without the teardown a query
      // error would leave a visible empty table behind).
      LakeTable.createEmpty(spark, root, declaredSchema, partCols)
      try batch.foreach(df => LakeTable.append(spark, root, df))
      catch { case e: Throwable =>
        val p = new Path(root)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(p, true)
        throw e
      }
    }
  }

  override def abortStagedChanges(): Unit = { batch = None }
}

/** Catalog table for a snapshot carrying deletion vectors or equality
  * deletes — and the relation every Scala API read builds
  * ([[LakeTable.read]], [[LakeTable.readWithLineage]], the range/point
  * reads and [[LakeTable.changes]], through [[LakeTable.dvFrame]], for
  * every snapshot; its `__file`/`__pos` metadata columns carry lineage,
  * and `dirs`, when set, limits it to those of the snapshot's file
  * groups). It reads through the one lake scan, [[GraftDvBatchScan]],
  * as [[GraftLakeTable]] does: pushed filters run the manifest-level
  * admission chain (partition values, min/max stats, bloom indexes —
  * [[LakeTable.pruneDirsForFilters]]) before any parquet footer opens,
  * each task loads and applies its own files' masks and the snapshot's
  * equality-delete keys inside the reader, and the column mapping maps
  * physical names to logical ones, so deleted rows never resurface and
  * stacked updates/time travel each see their own version's state. The
  * two tables differ in DML: here row-level statements stack as
  * merge-on-read commits and overwrites refuse until a compaction
  * ([[LakeTable.rewriteDeletes]] or any COW op) clears the delete
  * state. Appends still land through the commit protocol (dv state
  * changes are NAMED append conflicts). */
private[sources] final class GraftDvLakeTable(
    identName: String, root: String, version: Option[Int],
    dirs: Option[Set[String]] = None)
    extends Table
    with org.apache.spark.sql.connector.catalog.SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  import org.apache.spark.sql.connector.catalog.TableCapability
  import org.apache.spark.sql.connector.read.ScanBuilder
  import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write,
    Write, WriteBuilder}
  import org.apache.spark.sql.sources.InsertableRelation

  override def name(): String = identName

  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    GraftLakeTable.LineageMetadataColumns

  /** Row-level DML on a deletion-vector snapshot: MOR statements STACK
    * (the delta operation's scan skips already-masked rows); copy-on-
    * write refuses until [[LakeTable.rewriteDeletes]] materializes —
    * a COW group replace would read raw files and resurrect masked
    * rows. A snapshot with equality deletes refuses in either mode: its
    * table-wide key tombstones would also swallow the rows a statement
    * writes. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(version.isEmpty,
      s"${info.command} requires a latest-version table, got $identName")
    val spark = SparkSession.active
    val meta = LakeTable.latestVersion(spark, root)
      .map(v => LakeTable.manifestMetaAt(spark, root, v))
      .getOrElse(Map.empty[String, String])
    if (LakeTable.deleteState(meta).nonEmpty)
      throw new UnsupportedOperationException(
        s"${info.command}: the table at $root has merge-on-read deletes " +
          "(equality deletes); run rewriteDeletes first")
    if (!spark.conf.getOption("spark.graft.update.mode").contains("mor"))
      throw new UnsupportedOperationException(
        s"${info.command}: no copy-on-write row-level ops on a " +
          s"deletion-vector snapshot at $root — set " +
          "spark.graft.update.mode=mor (statements stack as dv commits) " +
          "or rewriteDeletes first")
    // the delta write lands its new rows under LOGICAL names, which a
    // rename/drop mapping reads back under physical ones (the renamed
    // column would read null); refuse until a rewrite materializes the
    // mapping
    if (LakeTable.colMapAt(meta).nonEmpty ||
        LakeTable.colDropsAt(meta).nonEmpty)
      throw new UnsupportedOperationException(
        s"${info.command}: merge-on-read row-level ops at $root need " +
          "physical column names to match logical, but the table has " +
          "RENAME/DROP COLUMN mappings — rewriteDeletes/compact first")
    () => new GraftDeltaOperation(root, info.command)
  }

  // the snapshot this table reads, resolved once when it loads (see
  // [[GraftLakeTable]]); `version` still gates the DML
  private val pinned =
    version.getOrElse(LakeTable.existingVersion(SparkSession.active, root, None))

  private lazy val tableSchema =
    LakeTable.snapshotSchema(SparkSession.active, root, Some(pinned))
  override def schema(): StructType = tableSchema
  /** `SHOW TBLPROPERTIES` / DESCRIBE EXTENDED keep working while
    * deletion-vector state pends (and on time-travel snapshots): the
    * committed `prop:` keys read off THIS snapshot's manifest — same
    * surface as the non-DV path. */
  override def properties(): java.util.Map[String, String] = {
    val spark = SparkSession.active
    version.orElse(LakeTable.latestVersion(spark, root)).fold(
        java.util.Collections.emptyMap[String, String]()) { v =>
      val m = new java.util.HashMap[String, String]()
      LakeTable.propertiesAt(LakeTable.manifestMetaAt(spark, root, v))
        .foreach { case (k, v2) => m.put(k, v2) }
      m
    }
  }
  override def capabilities(): java.util.Set[TableCapability] =
    if (version.isEmpty)
      java.util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)
    else java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new GraftDvScanBuilder(root, pinned, schema(), dirs, options)
  /** Appends land through the commit protocol; an overwrite (`INSERT
    * OVERWRITE`, which Spark plans as a truncate) refuses by name. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsTruncate {
      override def truncate(): WriteBuilder =
        throw new UnsupportedOperationException("graft-lake: INSERT " +
          s"OVERWRITE on $identName, a table with deletion vectors or " +
          "merge-on-read deletes, is not supported — rewriteDeletes/" +
          "compact first")
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: org.apache.spark.sql.DataFrame,
                                overwrite: Boolean): Unit = {
              require(!overwrite, s"graft-lake: an overwrite of $identName " +
                "is not supported — rewriteDeletes/compact first")
              LakeTable.append(SparkSession.active, root, data)
            }
          }
      }
    }
}

/** ScanBuilder of every lake scan ([[GraftDvBatchScan]]): records
  * Spark's pushed source filters and required columns (lineage metadata
  * columns included), then builds the pruned scan. EVERY filter is also
  * returned as residual, so Spark re-applies the full predicate above
  * the scan — the pushdown here is a strict optimization (fewer groups
  * opened, parquet row-group pruning), never a correctness dependency.
  * Under `spark.sql.parquet.aggregatePushdown` an unfiltered
  * COUNT/MIN/MAX is answered from parquet footers when the snapshot has
  * no delete state, its aggregated columns are unmapped and every file
  * holds them (the snapshot's footers share one schema). `version` is
  * the snapshot the table resolved when it loaded. `options` carries
  * the micro-batch stream's options ([[GraftDvBatchScan.toMicroBatchStream]]). */
private[sources] final class GraftDvScanBuilder(
    root: String, version: Int, tableSchema: StructType,
    dirs: Option[Set[String]], options: CaseInsensitiveStringMap)
    extends org.apache.spark.sql.connector.read.ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
  import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
  import org.apache.spark.sql.sources.Filter

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = tableSchema
  private var aggregate: Option[GraftDvAggregate] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters // all residual — Spark re-evaluates above the scan
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit = {
    required = requiredSchema
  }

  override def pushAggregation(agg: Aggregation): Boolean = {
    val spark = SparkSession.active
    val columns = agg.aggregateExpressions.toSeq
      .flatMap(_.references).map(_.fieldNames.mkString("."))
    lazy val meta = LakeTable.manifestMetaAt(spark, root, version)
    aggregate =
      if (!spark.sessionState.conf.parquetAggregatePushDown ||
          pushed.nonEmpty || dirs.nonEmpty || LakeTable.nativeDvOk(meta) ||
          !columns.forall(c => LakeTable.physicalName(meta, c).contains(c))) None
      else for {
        data <- LakeTable.uniformSchemaOf(spark,
          LakeTable.dataDirPaths(spark, root, Some(version)))
        if columns.forall(data.fieldNames.contains)
        schema <- org.apache.spark.sql.execution.datasources
          .AggregatePushDownUtils.getSchemaForPushedAggregation(
            agg, tableSchema, Set.empty, Nil)
      } yield GraftDvAggregate(agg, schema, data)
    aggregate.isDefined
  }

  override def build(): org.apache.spark.sql.connector.read.Scan =
    aggregate match {
      case Some(a) => new GraftDvBatchScan(root, version, tableSchema,
        a.schema, Nil, None, Some(a), options)
      case None => new GraftDvBatchScan(root, version, tableSchema, required,
        pushed.toSeq, dirs, None, options)
    }
}
