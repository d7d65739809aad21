package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSourceV2 read connector for [[LakeTable]]:
  * {{{
  *   spark.read.format("graft-lake").load(root)                  // latest
  *   spark.read.format("graft-lake")
  *        .option("versionAsOf", 2).load(root)                   // time travel
  * }}}
  *
  * This is the architecture Delta Lake's own connector uses (reference
  * workshop reads `format("delta")` paths — DS_cust_lifetime_value.py:152):
  * the format resolves the transaction metadata into a concrete file
  * list, then DELEGATES the scan to Spark's native vectorized parquet
  * machinery — so snapshot resolution costs one manifest read at
  * planning time and the data path keeps every built-in optimization
  * (whole-stage codegen over columnar batches, predicate pushdown to
  * row groups, column pruning, partition coalescing). Nothing here is
  * per-row; at 100 TB the connector's overhead is unchanged from
  * reading the parquet paths directly.
  *
  * The PATH-based format is deliberately WRITE-FREE
  * ([[TableCapability.BATCH_READ]] + [[TableCapability.MICRO_BATCH_READ]]
  * — latest snapshots also stream, see [[GraftLakeMicroBatchStream]]):
  * `df.write.format("graft-lake")`
  * fails analysis instead of bypassing the commit protocol. CATALOG
  * tables additionally accept `INSERT INTO` (V1Write → LakeTable.append)
  * and `DELETE FROM` (SupportsDelete → deleteWhere) — both route through
  * the same committed API calls, which is what keeps the manifest the
  * single source of truth. MERGE/UPDATE/OVERWRITE stay API-only.
  */
final class GraftLakeSource extends TableProvider with DataSourceRegister {
  import GraftLakeSource.delegate

  override def shortName(): String = "graft-lake"

  override def supportsExternalMetadata(): Boolean = false

  // Spark calls inferSchema then getTable on the SAME provider instance
  // for one read; caching the resolved delegate makes the pair atomic
  // (one snapshot resolution — a commit landing between the two calls
  // cannot pair vN's schema with vN+1's files) and halves the manifest
  // + file-listing planning cost.
  @volatile private var cached: (String, Option[Int], ParquetTable) = _

  private def fromOptions(options: JMap[String, String]): ParquetTable = {
    val opts = new CaseInsensitiveStringMap(options)
    val root = Option(opts.get("path")).getOrElse(throw new IllegalArgumentException(
      "graft-lake requires a table root: spark.read.format(\"graft-lake\").load(<root>)"))
    val version = Option(opts.get("versionAsOf")).map(_.toInt)
    val c = cached
    if (c != null && c._1 == root && c._2 == version) c._3
    else {
      val t = delegate(SparkSession.active, root, version, None, options)
      cached = (root, version, t)
      t
    }
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    fromOptions(options).schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    // path reads stay DML-free (no `root`), but a latest-snapshot path
    // IS streamable: `spark.readStream.format("graft-lake").load(root)`
    val streamRoot =
      if (opts.containsKey("versionAsOf")) None else Option(opts.get("path"))
    new GraftLakeTable(fromOptions(properties), streamRoot = streamRoot)
  }
}

private[sources] object GraftLakeSource {
  /** Resolve a snapshot into the vectorized-parquet delegate table —
    * shared by the format path ([[GraftLakeSource]]) and the catalog
    * path ([[GraftLakeCatalog]]). */
  private[sources] def delegate(spark: SparkSession, root: String,
                                version: Option[Int],
                                userSchema: Option[StructType],
                                options: JMap[String, String]): ParquetTable = {
    // merge-on-read delete masks are applied by LakeTable.read's
    // anti-join; the raw-parquet delegate would silently resurrect
    // deleted rows, so fail fast instead (Delta-protocol spirit: a
    // reader that can't honor deletion vectors must not read)
    // (an unknown requested version skips the check and fails below in
    // dataDirPaths with the available-versions message)
    val known = LakeTable.versions(spark, root)
    val maskDeletes = java.lang.Boolean.parseBoolean(
      new CaseInsensitiveStringMap(options).getOrDefault("maskDeletes", "false"))
    version.orElse(known.lastOption).filter(known.contains).foreach { v =>
      // maskDeletes=true (streaming opt-in): the micro-batch stream
      // applies the delete mask per batch, so a MOR table may load;
      // BATCH scans under the option still refuse at toBatch
      // ([[GraftLakeStreamableScan]]) — raw parquet cannot honor masks.
      // The opt-in only applies to latest-version loads: time-travel
      // loads get no stream wrapper (streamRoot=None), so honoring it
      // there would leave NOTHING to re-gate the batch read and deleted
      // rows would silently resurrect — keep the hard throw.
      if (!(maskDeletes && version.isEmpty) && LakeTable.deleteState(
          LakeTable.manifestMetaAt(spark, root, v)).nonEmpty)
        throw new UnsupportedOperationException(
          s"table at $root has merge-on-read deletes (version $v); " +
            "materialize them first (LakeTable.rewriteDeletes/compact), " +
            "read via LakeTable.read, or stream with " +
            "option(\"maskDeletes\", \"true\")")
      // positional deletion vectors gate the raw delegate the same way
      // (raw parquet would resurrect masked rows); the CATALOG path
      // never gets here for them — GraftLakeCatalog.load serves dv
      // snapshots through its masked GraftDvLakeTable — so only the
      // pathless format("graft-lake") read refuses
      if (LakeTable.dvState(
          LakeTable.manifestMetaAt(spark, root, v)).nonEmpty)
        throw new UnsupportedOperationException(
          s"table at $root has deletion vectors (version $v); " +
            "materialize them first (LakeTable.rewriteDeletes/compact), " +
            "read via LakeTable.read, or query through a graft-lake " +
            "catalog (its scan patches deletion vectors)")
      // metadata-only column rename/drop: the raw-parquet delegate
      // would expose PHYSICAL names and silently mis-shape the table.
      // TIME-TRAVEL loads fail fast here (no scan wrapper to gate);
      // latest-version loads resolve with the LOGICAL schema instead —
      // batch scans then refuse at toBatch ([[GraftLakeStreamableScan]])
      // while the micro-batch stream reads files under translated
      // physical names (positional rows, logical shape)
      val vMeta = LakeTable.manifestMetaAt(spark, root, v)
      if (version.isDefined &&
          (LakeTable.colMapAt(vMeta).nonEmpty ||
            LakeTable.colDropsAt(vMeta).nonEmpty))
        throw new UnsupportedOperationException(
          s"table at $root has a metadata-only column rename/drop " +
            s"(version $v); materialize it first (LakeTable.compact) " +
            "or read via LakeTable.read")
    }
    val logicalOverride = for {
      v <- known.lastOption if version.isEmpty
      vMeta = LakeTable.manifestMetaAt(spark, root, v)
      if LakeTable.colMapAt(vMeta).nonEmpty ||
        LakeTable.colDropsAt(vMeta).nonEmpty
    } yield LakeTable.read(spark, root).schema
    val paths = LakeTable.dataDirPaths(spark, root, version)
    // additive schema evolution: groups written before a column existed
    // read it as null (same contract as LakeTable.read); an ALTER-
    // declared schema override becomes the user schema, so columns no
    // group carries yet exist as typed nulls in declared order
    val withMerge = new java.util.HashMap[String, String](options)
    withMerge.put("mergeSchema", "true")
    val effSchema = userSchema.orElse(logicalOverride)
      .orElse(LakeTable.schemaOverrideAt(spark, root, version))
      // uniform footer schema (cached per immutable group) — hands
      // ParquetTable its schema up front, skipping the mergeSchema
      // inference job; mixed-schema snapshots fall through to it
      .orElse(LakeTable.uniformSchemaOf(spark, paths))
    ParquetTable(
      s"graft-lake `$root`" + version.fold("")(v => s"@v$v"),
      spark, new CaseInsensitiveStringMap(withMerge), paths.toList,
      effSchema, classOf[ParquetFileFormat])
  }

  /** A delegate over an explicit subset of the snapshot's data dirs —
    * the manifest-stats pruning path ([[GraftLakeStreamScanBuilder]]).
    * The table schema pins the shape (a pruned subset may lack evolved
    * columns' files entirely). */
  private[sources] def delegateForDirs(spark: SparkSession, root: String,
                                       dirs: Seq[String],
                                       tableSchema: StructType,
                                       options: JMap[String, String])
      : ParquetTable = {
    val withMerge = new java.util.HashMap[String, String](options)
    withMerge.put("mergeSchema", "true")
    ParquetTable(
      s"graft-lake `$root` (stats-pruned ${dirs.size} group(s))",
      spark, new CaseInsensitiveStringMap(withMerge),
      dirs.map(d => new org.apache.hadoop.fs.Path(root, d).toString).toList,
      Some(tableSchema), classOf[ParquetFileFormat])
  }
}

/** Scan wrapper: exposes the delegate's schema and scan builder, plus —
  * when constructed by the catalog with its root — filter-based
  * `DELETE FROM` ([[org.apache.spark.sql.connector.catalog.SupportsDelete]]):
  * Spark pushes the WHERE clause down as source filters, they translate
  * to a Column predicate, and the delete lands as a normal
  * [[LakeTable.deleteWhere]] copy-on-write commit — SQL DML without
  * bypassing the commit protocol. Catalog tables also take SQL
  * INSERT/INSERT OVERWRITE through [[newWriteBuilder]]; the bare
  * FORMAT path stays read-only (`df.write.format("graft-lake")` still
  * fails analysis — writes need the catalog's root), and a
  * time-travel snapshot refuses deletes (history is immutable). */
private[sources] final class GraftLakeTable(delegate: ParquetTable,
    root: Option[String] = None, version: Option[Int] = None,
    streamRoot: Option[String] = None)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.TruncatableTable {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit}
  import org.apache.spark.sql.sources._
  import org.apache.spark.sql.connector.write.{LogicalWriteInfo,
    RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo,
    V1Write, Write, WriteBuilder}

  override def name(): String = delegate.name
  override def schema(): StructType = delegate.schema

  /** Row LINEAGE metadata columns — the identity the delta row-level
    * operation's rowId names ([[GraftDeltaOperation]]). Served by the
    * delta operation's own scan; plain reads never request them. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    GraftLakeTable.LineageMetadataColumns

  /** `SHOW TBLPROPERTIES` / DESCRIBE EXTENDED read the committed user
    * properties ([[LakeTable.setProperties]]) off the loaded snapshot's
    * manifest — the latest version normally, the requested one on a
    * time-travel load (properties are versioned state like everything
    * else in the manifest). */
  override def properties(): java.util.Map[String, String] = root match {
    case Some(r) =>
      val spark = SparkSession.active
      version.orElse(LakeTable.latestVersion(spark, r)).fold(
          java.util.Collections.emptyMap[String, String]()) { v =>
        val m = new java.util.HashMap[String, String]()
        LakeTable.propertiesAt(LakeTable.manifestMetaAt(spark, r, v))
          .foreach { case (k, v2) => m.put(k, v2) }
        m
      }
    case _ => java.util.Collections.emptyMap[String, String]()
  }

  /** DSv2 column metadata: surface the manifest's write-defaults,
    * generation expressions and identity spec so (a) `INSERT INTO t
    * (subset…)` fills an omitted DEFAULT column with its declared
    * value at analysis time (without this Spark substitutes NULL and
    * the engine-side default never fires — SQL and API inserts would
    * diverge), and (b) DESCRIBE shows the declared semantics. The
    * exists-default is a typed NULL on purpose: rows that predate the
    * declaration read NULL — history is immutable. */
  override def columns()
      : Array[org.apache.spark.sql.connector.catalog.Column] = {
    import org.apache.spark.sql.connector.catalog.{Column => V2Column}
    val base = schema()
    (root, version) match {
      case (Some(r), None) =>
        val spark = SparkSession.active
        LakeTable.latestVersion(spark, r).fold(
            base.fields.map(f => V2Column.create(f.name, f.dataType,
              f.nullable))) { v =>
          val meta = LakeTable.manifestMetaAt(spark, r, v)
          val defaults = LakeTable.defaultsAt(meta)
          val gens = LakeTable.genColsAt(meta)
          val ident = LakeTable.identityAt(meta)
          base.fields.map { f =>
            val dflt = defaults.collectFirst {
              case (c, s) if c.equalsIgnoreCase(f.name) => s }
            val gen = gens.collectFirst {
              case (c, s) if c.equalsIgnoreCase(f.name) => s }
            val id = ident.filter(_._1.equalsIgnoreCase(f.name))
            (dflt, gen, id) match {
              case (Some(sql), _, _) =>
                // exists-default = typed NULL (LiteralValue is
                // private[sql], so a minimal Literal impl)
                val nullLit =
                  new org.apache.spark.sql.connector.expressions.Literal[Any] {
                    override def value(): Any = null
                    override def dataType()
                        : org.apache.spark.sql.types.DataType = f.dataType
                  }
                V2Column.create(f.name, f.dataType,
                  f.nullable, null,
                  new org.apache.spark.sql.connector.catalog
                    .ColumnDefaultValue(sql, nullLit), null)
              case (_, Some(sql), _) => V2Column.create(f.name, f.dataType,
                f.nullable, null, sql, null)
              case (_, _, Some((_, st, sp, _))) => V2Column.create(f.name,
                f.dataType, f.nullable, null,
                new org.apache.spark.sql.connector.catalog.IdentityColumnSpec(
                  st, sp, false), null)
              case _ => V2Column.create(f.name, f.dataType, f.nullable)
            }
          }
        }
      case _ => base.fields.map(f =>
        V2Column.create(f.name, f.dataType, f.nullable))
    }
  }

  /** DSv2 informational surface: the committed CHECK/UNIQUE
    * constraints, as `DESCRIBE TABLE EXTENDED` and catalog tooling
    * read them. Both classes are ENFORCED here (every write validates
    * — stronger than Delta, which enforces only CHECK). Partitioning
    * likewise reports the declared partition column. */
  override def constraints(): Array[
      org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    (root, version) match {
      case (Some(r), None) =>
        val spark = SparkSession.active
        LakeTable.latestVersion(spark, r).map { v =>
          val meta = LakeTable.manifestMetaAt(spark, r, v)
          val checks = meta.collect {
            case (k, p) if k.startsWith("check:") =>
              org.apache.spark.sql.connector.catalog.constraints.Constraint
                .check(k.drop("check:".length)).predicateSql(p)
                .enforced(true).build()
                : org.apache.spark.sql.connector.catalog.constraints.Constraint
          }
          val uniques = LakeTable.uniqueColsAt(meta).map { case (n, c) =>
            org.apache.spark.sql.connector.catalog.constraints.Constraint
              .unique(n, Array(
                org.apache.spark.sql.connector.expressions.Expressions
                  .column(c)))
              .enforced(true).build()
              : org.apache.spark.sql.connector.catalog.constraints.Constraint
          }
          (checks ++ uniques).toArray.sortBy(_.name)
        }.getOrElse(Array.empty)
      case _ => Array.empty
    }

  override def partitioning()
      : Array[org.apache.spark.sql.connector.expressions.Transform] =
    (root, version) match {
      case (Some(r), None) =>
        val spark = SparkSession.active
        LakeTable.latestVersion(spark, r).map { v =>
          val meta = LakeTable.manifestMetaAt(spark, r, v)
          LakeTable.bucketSpecAt(meta) match {
            case Some((bc, n)) => Array(
              org.apache.spark.sql.connector.expressions.Expressions
                .bucket(n, bc)
                : org.apache.spark.sql.connector.expressions.Transform)
            case None =>
              val pcs = LakeTable.partColsAt(meta)
              val trs0 = LakeTable.parttransAt(meta)
              val trs = if (trs0.size == pcs.size) trs0
                        else pcs.map(_ => "id")
              import org.apache.spark.sql.connector.expressions.Expressions
              pcs.zip(trs).map { case (pc, t) =>
                (t match {
                  case "id" => Expressions.identity(pc)
                  case "days" => Expressions.days(pc)
                  case "months" => Expressions.months(pc)
                  case "years" => Expressions.years(pc)
                  case tr if tr.startsWith("trunc:") =>
                    Expressions.apply("truncate",
                      Expressions.literal(tr.drop("trunc:".length).toInt),
                      Expressions.column(pc))
                  case tr if tr.startsWith("bucket:") =>
                    Expressions.bucket(tr.drop("bucket:".length).toInt, pc)
                  case other => Expressions.identity(pc)
                }): org.apache.spark.sql.connector.expressions.Transform
              }.toArray
          }
        }.getOrElse(Array.empty)
      case _ => Array.empty
    }

  override def capabilities(): java.util.Set[TableCapability] = {
    val caps = java.util.EnumSet.of(TableCapability.BATCH_READ)
    if (root.isDefined && version.isEmpty) {
      caps.add(TableCapability.V1_BATCH_WRITE)
      // INSERT OVERWRITE / writeTo(...).overwrite(cond): analysis
      // requires the capability even though refusal happens later for
      // conditions that don't reduce to one band (filtersToBand)
      caps.add(TableCapability.OVERWRITE_BY_FILTER)
      caps.add(TableCapability.TRUNCATE)
      // MERGE … WITH SCHEMA EVOLUTION: Spark's analyzer gates the
      // syntax on this capability, then routes the new source columns
      // through catalog.alterTable(AddColumn) → LakeTable.evolveSchema
      // (a metadata-only commit) BEFORE planning the row-level merge —
      // so the evolved merge is two commits, exactly like Delta's
      // autoMerge. Without the keyword the capability is inert and an
      // unknown source column still refuses at analysis.
      caps.add(TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
    }
    if (streamRoot.isDefined && version.isEmpty)
      caps.add(TableCapability.MICRO_BATCH_READ)
    caps
  }

  /** Batch scans delegate untouched (full parquet pushdown); when the
    * table is streamable, the BUILT scan is wrapped so
    * `toMicroBatchStream` resolves to the commit-log source
    * ([[GraftLakeMicroBatchStream]]) — the builder subclass keeps every
    * pushdown interface of [[ParquetScanBuilder]] itself, so the batch
    * plan shape is byte-identical with or without streaming support. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    streamRoot match {
      case None => delegate.newScanBuilder(options)
      case Some(sr) =>
        new GraftLakeStreamScanBuilder(delegate.newScanBuilder(options),
          sr, delegate.schema,
          options.getBoolean("ignoreChanges", false), options)
    }

  /** SQL `MERGE INTO` / `UPDATE` (and non-pushable `DELETE`s) via the
    * group-replace protocol — see [[GraftRowLevelOperation]]. Pushable
    * DELETEs keep taking the cheaper [[canDeleteWhere]] path. */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    require(root.isDefined && version.isEmpty,
      s"${info.command} requires a latest-version catalog table, got ${name()}")
    // group-replace reads parquet files directly, which expose PHYSICAL
    // column names: under a pending metadata-only rename/drop the
    // renamed column would read as all-NULL and the replace commit would
    // persist those nulls — refuse, mirroring the toBatch gate
    val spark = SparkSession.active
    LakeTable.versions(spark, root.get).lastOption.foreach { v =>
      val vMeta = LakeTable.manifestMetaAt(spark, root.get, v)
      if (LakeTable.colMapAt(vMeta).nonEmpty ||
          LakeTable.colDropsAt(vMeta).nonEmpty)
        throw new UnsupportedOperationException(
          s"table at ${root.get} has a metadata-only column rename/drop " +
            s"(version $v); materialize it first (LakeTable.compact) " +
            s"before ${info.command}")
    }
    () =>
      // under the MOR opt-in the FULL row-level surface (conditional
      // MERGE clauses, NOT MATCHED BY SOURCE, non-canonical UPDATEs)
      // lands as ONE deletion-vector commit via Spark's delta-based
      // protocol; copy-on-write group replace stays the default
      if (spark.conf.getOption("spark.graft.update.mode").contains("mor"))
        new GraftDeltaOperation(root.get, info.command)
      else new GraftRowLevelOperation(root.get, info.command)
  }

  /** `INSERT INTO` through the V1Write bridge: the appended rows arrive
    * as a DataFrame and land as a normal [[LakeTable.append]] commit —
    * executor-side parquet writing and the atomic manifest rename are
    * the same code path the programmatic API takes, so SQL inserts get
    * the identical exactly-once/versioned semantics.
    *
    * Overwrites route through the SAME commit protocol (never a history
    * rewrite — every prior version stays time-travelable):
    *  - `INSERT OVERWRITE t` (no predicate) / `writeTo(t).overwrite(true)`
    *    → [[LakeTable.overwriteAll]] — one commit replacing the snapshot;
    *  - `INSERT OVERWRITE t PARTITION (c=v)` (static mode),
    *    `INSERT INTO t REPLACE WHERE <cond>` ([[GraftSqlParser]]) and
    *    `writeTo(t).overwrite(cond)` → the pushed filters translate to
    *    an inclusive single-column band ([[GraftLakeTable.filtersToBand]])
    *    and land as
    *    [[LakeTable.overwriteWhere]] — containment-checked, stats/
    *    partition-pruned (untouched file groups carry by name, zero
    *    bytes rewritten). Conditions that don't reduce to one numeric
    *    band refuse loudly (no silent full-table rewrite). */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsOverwrite {
      // None = plain append; Some(None) = full overwrite;
      // Some(Some((col, lo, hi))) = banded replaceWhere
      private var mode: Option[Option[(String, Double, Double)]] = None

      override def truncate(): WriteBuilder = { mode = Some(None); this }

      override def overwrite(filters: Array[Filter]): WriteBuilder = {
        mode = Some(GraftLakeTable.filtersToBand(filters))
        this
      }

      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: org.apache.spark.sql.DataFrame,
                                overwrite: Boolean): Unit = {
              val cleaned = dropAllNullAutoCols(data)
              mode match {
                case None =>
                  LakeTable.append(SparkSession.active, root.get, cleaned)
                case Some(None) =>
                  LakeTable.overwriteAll(SparkSession.active, root.get, cleaned)
                case Some(Some((c, lo, hi))) =>
                  LakeTable.overwriteWhere(
                    SparkSession.active, root.get, cleaned, c, lo, hi)
              }
            }
          }
      }
    }

  /** SQL INSERTs that OMIT a generated/identity column arrive with the
    * column Spark-filled as NULL (ResolveDefaultColumns substitutes
    * NULL when a nullable column has no declared default). The commit
    * protocol's contract is OMISSION — the engine stamps identity ids
    * and materializes generation expressions itself — so an auto
    * column that is entirely NULL is treated as omitted and dropped
    * here. A batch carrying any non-null value still refuses
    * downstream (GENERATED ALWAYS). Cost: one aggregate over the
    * incoming batch — in family with the constraint gates the append
    * already pays. */
  private def dropAllNullAutoCols(
      data: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = SparkSession.active
    LakeTable.latestVersion(spark, root.get).fold(data) { v =>
      val meta = LakeTable.manifestMetaAt(spark, root.get, v)
      val auto = (LakeTable.genColsAt(meta).keys.toSeq ++
        LakeTable.identityAt(meta).map(_._1).toSeq)
        .flatMap(c => data.columns.find(_.equalsIgnoreCase(c)))
      if (auto.isEmpty) data
      else {
        import org.apache.spark.sql.functions.count
        val counts = data.agg(count(col(auto.head)),
          auto.tail.map(c => count(col(c))): _*).head()
        val allNull = auto.zipWithIndex
          .filter { case (_, i) => counts.getLong(i) == 0L }
          .map(_._1)
        data.drop(allNull: _*)
      }
    }
  }

  private def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v)            => Some(col(a) === lit(v))
    case GreaterThan(a, v)        => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v)           => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
    case In(a, vs)                => Some(col(a).isin(vs.toSeq: _*))
    case IsNull(a)                => Some(col(a).isNull)
    case IsNotNull(a)             => Some(col(a).isNotNull)
    case And(l, r) => for { lc <- toColumn(l); rc <- toColumn(r) } yield lc && rc
    case Or(l, r)  => for { lc <- toColumn(l); rc <- toColumn(r) } yield lc || rc
    case Not(c)    => toColumn(c).map(!_)
    case AlwaysTrue()  => Some(lit(true))
    case AlwaysFalse() => Some(lit(false))
    case _ => None
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    root.isDefined && version.isEmpty && filters.forall(toColumn(_).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(root.isDefined && version.isEmpty,
      s"DELETE requires a latest-version catalog table, got ${name()}")
    val pred = filters.flatMap(toColumn(_)).reduceOption(_ && _)
      .getOrElse(lit(true))
    LakeTable.deleteWhere(SparkSession.active, root.get, pred)
  }

  /** SQL `TRUNCATE TABLE` — delete every row, keep the contract
    * ([[LakeTable.truncateTable]]: manifest-only commit, schema /
    * constraints / identity high-water mark / ledgers all carry, time
    * travel keeps every pre-truncate snapshot). */
  override def truncateTable(): Boolean = {
    require(root.isDefined && version.isEmpty,
      s"TRUNCATE requires a latest-version catalog table, got ${name()}")
    LakeTable.truncateTable(SparkSession.active, root.get)
    true
  }
}

/** Companion for the DSv2 overwrite path: translates Spark's pushed
  * [[org.apache.spark.sql.sources.Filter]]s into the inclusive
  * single-column numeric band [[LakeTable.overwriteWhere]] takes.
  *
  * Contract (deliberately strict — a replaceWhere that can't be proven
  * band-shaped must REFUSE, never degrade to a full-table rewrite):
  *  - empty array, or `AlwaysTrue` only → `None` = full overwrite
  *    (the `truncate()`/`INSERT OVERWRITE t` semantics);
  *  - a conjunction (flat array and/or `And`-nested) of
  *    EqualTo / GreaterThan(OrEqual) / LessThan(OrEqual) filters all on
  *    ONE column with numeric literals → `Some((col, lo, hi))`, the
  *    tightest inclusive band (strict bounds nudge one ULP inward);
  *  - ANYTHING else — `Or`, `Not`, `In`, null tests, a second column,
  *    a non-numeric literal, an empty band (lo > hi) — throws
  *    [[UnsupportedOperationException]]. A mistyped predicate must
  *    never fall through to the `Some(None)` full-overwrite arm of
  *    the WriteBuilder match. */
private[graft] object GraftLakeTable {
  import org.apache.spark.sql.sources._

  /** `__file` (string) + `__pos` (long) — the row identity deletion
    * vectors key on, exposed as DSv2 metadata columns so the delta
    * row-level rewrite can resolve them. */
  val LineageMetadataColumns
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = LakeTable.FileCol
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.StringType
        override def isNullable: Boolean = false
        override def comment(): String = "physical parquet file path"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = LakeTable.PosCol
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.LongType
        override def isNullable: Boolean = false
        override def comment(): String = "row index within its file"
      })

  def filtersToBand(
      filters: Array[Filter]): Option[(String, Double, Double)] = {
    def refuse(f: Any): Nothing = throw new UnsupportedOperationException(
      s"overwrite condition does not reduce to a single-column numeric " +
        s"band (got: $f); use INSERT OVERWRITE without a predicate for a " +
        "full rewrite, or a conjunction of =/</<=/>/>= on one column")
    def num(v: Any): Double = v match {
      case n: java.lang.Number => n.doubleValue() // incl. BigDecimal
      case other => refuse(other)
    }
    // flatten And-nests into leaf comparisons; refuse everything else
    def leaves(f: Filter): Seq[Filter] = f match {
      case And(l, r)     => leaves(l) ++ leaves(r)
      case AlwaysTrue()  => Nil
      // a static `PARTITION (c = v)` spec arrives as EqualNullSafe;
      // with a non-null literal it is EqualTo (NULL <=> v is false, and
      // the band predicate never matches NULL rows either)
      case EqualNullSafe(a, v) if v != null => Seq(EqualTo(a, v))
      case EqualTo(_, _) | GreaterThan(_, _) | GreaterThanOrEqual(_, _) |
           LessThan(_, _) | LessThanOrEqual(_, _) => Seq(f)
      case other => refuse(other)
    }
    val cmps = filters.toSeq.flatMap(leaves)
    if (cmps.isEmpty) return None // AlwaysTrue / no predicate = full
    var colName: String = null
    var lo = Double.NegativeInfinity
    var hi = Double.PositiveInfinity
    def onCol(a: String): Unit = {
      if (colName == null) colName = a
      else if (colName != a) refuse(s"second column '$a' (band on '$colName')")
    }
    cmps.foreach {
      case EqualTo(a, v) =>
        onCol(a); val x = num(v); lo = math.max(lo, x); hi = math.min(hi, x)
      case GreaterThan(a, v) =>
        onCol(a); lo = math.max(lo, Math.nextUp(num(v)))
      case GreaterThanOrEqual(a, v) => onCol(a); lo = math.max(lo, num(v))
      case LessThan(a, v) =>
        onCol(a); hi = math.min(hi, Math.nextDown(num(v)))
      case LessThanOrEqual(a, v) => onCol(a); hi = math.min(hi, num(v))
      case other => refuse(other)
    }
    if (lo.isNegInfinity && hi.isPosInfinity) refuse(cmps.mkString(", "))
    if (lo > hi) refuse(s"empty band [$lo,$hi] on '$colName'")
    Some((colName, lo, hi))
  }
}
