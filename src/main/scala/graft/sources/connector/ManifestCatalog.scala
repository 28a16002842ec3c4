package graft.sources.connector

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{Column, Identifier, NamespaceChange, ProcedureCatalog, SupportsNamespaces, Table, TableCatalog, TableChange, TableInfo}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{BooleanType, DoubleType, IntegerType, LongType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.Manifest

/** SQL catalog over manifest tables — the analog of the reference's
  * Glue catalog surface (reference: terraform-Infrastructure-
  * provisioning/aws-data-lake-terraform-main.tf:199-235, Glue catalog
  * + crawler) for VERSIONED tables, where
  * [[graft.sources.Catalog.registerPersistent]] covers plain parquet:
  *
  * {{{
  *   spark.conf: spark.sql.catalog.graft = graft.sources.connector.ManifestCatalog
  *               spark.sql.catalog.graft.root = /lake/warehouse
  *
  *   CREATE TABLE graft.db.events (id BIGINT, lang STRING, n BIGINT)
  *     PARTITIONED BY (lang)
  *   INSERT INTO graft.db.events SELECT ...          -- append commit
  *   INSERT OVERWRITE graft.db.events SELECT ...     -- replace commit
  *   SELECT * FROM graft.db.events VERSION AS OF 2   -- time travel
  * }}}
  *
  * A table named `db.t` lives at `<root>/db/t` — an ordinary manifest
  * table readable/writable by the Scala `Manifest.*` API and the
  * `graft-manifest` DataSource interchangeably; the catalog adds only
  * name resolution, CREATE/DROP, and SQL time travel (`VERSION AS OF`
  * resolves through `loadTable(ident, version)`).
  *
  * No driver-side state: the manifest directory IS the catalog (same
  * crash-consistency argument as the commit protocol itself), so any
  * number of concurrent sessions see the same tables. ALTER/RENAME are
  * deliberately unsupported — schema evolves through append commits
  * (the manifest header merge), and a rename under snapshot readers
  * cannot be made atomic on a plain filesystem.
  */
class ManifestCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog '$name' needs spark.sql.catalog.$name.root = " +
          "<warehouse dir>"))
  }

  override def name(): String = catalogName

  private def spark = SparkSession.active

  /** Identifier segments become PATH segments under the warehouse root,
    * so they must never traverse: a backtick-quoted name carrying '/'
    * or '..' would otherwise resolve (and dropTable would recursively
    * DELETE) outside the warehouse. */
  private def checkSegment(seg: String): String = {
    require(seg.nonEmpty && seg != "." && seg != ".." &&
      !seg.contains("/") && !seg.contains("\\"),
      s"invalid identifier segment '$seg': must be non-empty and must " +
        "not contain '/', '\\' or be a relative path component")
    seg
  }

  private def pathOf(ident: Identifier): String =
    (warehouse +: ident.namespace.toSeq.map(checkSegment) :+
      checkSegment(ident.name)).mkString("/")

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val base = new Path(
      (warehouse +: namespace.toSeq.map(checkSegment)).mkString("/"))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) Array.empty
    else fs.listStatus(base).filter(_.isDirectory)
      .filter(d => fs.exists(new Path(d.getPath, "_manifests")))
      .map(d => Identifier.of(namespace, d.getPath.getName))
  }

  override def tableExists(ident: Identifier): Boolean =
    Manifest.latestVersion(spark, pathOf(ident)).isDefined

  override def loadTable(ident: Identifier): Table =
    loadVersion(ident, None)

  /** SQL `VERSION AS OF n` lands here. */
  override def loadTable(ident: Identifier, version: String): Table =
    loadVersion(ident, Some(version))

  /** SQL `TIMESTAMP AS OF ts` lands here (Spark hands epoch MICROS);
    * resolves to the newest snapshot committed at or before it. For a
    * metadata-table identifier (`db.t.files`) the timestamp resolves
    * against the BASE table's commit log — the suffix relation has no
    * log of its own — then delegates to loadVersion's metadata
    * fallback, keeping TIMESTAMP AS OF and VERSION AS OF consistent
    * across the whole time-travel surface. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val path = pathOf(ident)
    val logPath =
      if (Manifest.latestVersion(spark, path).isDefined) path
      else if (ident.namespace.nonEmpty &&
          MetadataTables.suffixes(ident.name.toLowerCase)) {
        val base = (warehouse +: ident.namespace.toSeq.map(checkSegment))
          .mkString("/")
        if (Manifest.latestVersion(spark, base).isDefined) base
        else throw new NoSuchTableException(ident)
      } else throw new NoSuchTableException(ident)
    loadVersion(ident, Some(
      Manifest.versionAt(spark, logPath, timestampMicros / 1000L).toString))
  }

  private def loadVersion(ident: Identifier,
                          version: Option[String]): Table = {
    val path = pathOf(ident)
    if (Manifest.latestVersion(spark, path).isEmpty) {
      // Iceberg-style dotted METADATA TABLES: `db.t.files` resolves
      // with namespace [db, t] and name "files" — if the namespace
      // path is itself a manifest table and the name is a metadata
      // suffix, serve the metadata relation instead. Ordinary tables
      // win (a real table at warehouse/db/t/files shadows), so this
      // only activates where normal resolution has already failed.
      if (ident.namespace.nonEmpty &&
          MetadataTables.suffixes(ident.name.toLowerCase)) {
        val base = (warehouse +: ident.namespace.toSeq.map(checkSegment))
          .mkString("/")
        if (Manifest.latestVersion(spark, base).isDefined)
          return MetadataTables.table(spark, base,
            ident.name.toLowerCase, version)
      }
      throw new NoSuchTableException(ident)
    }
    ManifestTable(ManifestConnector.resolve(spark,
      Map("path" -> path) ++ version.map("version" -> _)))
  }

  // all three createTable entry points funnel here (Spark routes CREATE
  // TABLE / CTAS through different variants depending on call site)
  private def create(ident: Identifier, schema: StructType,
                     partitions: Array[Transform]): Table = {
    if (tableExists(ident))
      throw new TableAlreadyExistsException(ident)
    val partCols = partitions.toSeq.map { t =>
      require(t.name == "identity" && t.references.length == 1,
        s"graft catalog supports identity partitioning only, got $t")
      t.references.head.fieldNames.mkString(".")
    }
    // a zero-row init: the schema header makes the empty table readable
    // and the first INSERT is an ordinary append commit
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    Manifest.init(spark, pathOf(ident), empty, partCols)
    loadTable(ident)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String])
      : Table = create(ident, schema, partitions)

  private def toStructType(columns: Array[Column]): StructType =
    StructType(columns.toSeq.map { c =>
      require(c.defaultValue == null && c.generationExpression == null,
        s"graft catalog does not support default/generated columns " +
          s"(column ${c.name})")
      StructField(c.name, c.dataType, c.nullable)
    })

  override def createTable(ident: Identifier, columns: Array[Column],
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String])
      : Table =
    create(ident, toStructType(columns), partitions)

  override def createTable(ident: Identifier, info: TableInfo): Table =
    create(ident, toStructType(info.columns), info.partitions)

  /** `ALTER TABLE ... ADD COLUMN(S)` = a METADATA-ONLY commit widening
    * the schema header (existing files read the new columns back NULL;
    * pinned readers of older versions keep the narrower schema). All
    * other alterations stay unsupported: types/renames cannot be
    * rewritten in place under snapshot readers, and schema also evolves
    * implicitly through append commits. */
  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    val adds = changes.collect { case a: TableChange.AddColumn => a }
    val drops = changes.collect { case d: TableChange.DeleteColumn => d }
    if (adds.size + drops.size != changes.size)
      throw new UnsupportedOperationException(
        "manifest tables support ALTER TABLE ADD/DROP COLUMN(S) only; " +
          "other schema changes cannot be made in place under " +
          "snapshot readers")
    require(adds.isEmpty || drops.isEmpty,
      "mix of ADD and DROP in one ALTER is not supported")
    if (drops.nonEmpty) {
      val names = drops.map { d =>
        require(d.fieldNames.length == 1,
          s"cannot drop nested column ${d.fieldNames.mkString(".")} " +
            "(flat schemas only)")
        d.fieldNames.head
      }
      Manifest.commitDropColumns(spark, pathOf(ident), names)
    } else {
      val fields = adds.map { a =>
        require(a.fieldNames.length == 1,
          s"cannot add nested column ${a.fieldNames.mkString(".")} " +
            "(flat schemas only)")
        StructField(a.fieldNames.head, a.dataType, nullable = true)
      }
      Manifest.commitAddColumns(spark, pathOf(ident), StructType(fields))
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = new Path(pathOf(ident))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new Path(p, "_manifests")) && fs.delete(p, true)
  }

  override def renameTable(from: Identifier, to: Identifier): Unit =
    throw new UnsupportedOperationException(
      "RENAME is not supported: it cannot be made atomic under " +
        "concurrent snapshot readers on a plain filesystem")

  // ---- namespaces: directories that are not themselves tables ---------

  private def fsFor(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def nsPath(namespace: Seq[String]): Path =
    new Path((warehouse +: namespace.map(checkSegment)).mkString("/"))

  private def isTableDir(fs: org.apache.hadoop.fs.FileSystem,
                         p: Path): Boolean =
    fs.exists(new Path(p, "_manifests"))

  override def namespaceExists(namespace: Array[String]): Boolean = {
    val p = nsPath(namespace.toSeq)
    val fs = fsFor(p)
    namespace.isEmpty ||
      (fs.exists(p) && fs.getFileStatus(p).isDirectory &&
        !isTableDir(fs, p))
  }

  override def listNamespaces(): Array[Array[String]] =
    listNamespaces(Array.empty)

  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(name() +: namespace.toSeq)
    val p = nsPath(namespace.toSeq)
    val fs = fsFor(p)
    if (!fs.exists(p)) Array.empty
    else fs.listStatus(p).filter(_.isDirectory)
      .filterNot(d => isTableDir(fs, d.getPath))
      .map(d => namespace :+ d.getPath.getName)
  }

  override def loadNamespaceMetadata(namespace: Array[String])
      : java.util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(name() +: namespace.toSeq)
    java.util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit = {
    if (namespaceExists(namespace))
      throw new NamespaceAlreadyExistsException(
        (name() +: namespace.toSeq).toArray)
    fsFor(nsPath(namespace.toSeq)).mkdirs(nsPath(namespace.toSeq))
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "manifest namespaces carry no metadata to alter")

  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(name() +: namespace.toSeq)
    val p = nsPath(namespace.toSeq)
    val fs = fsFor(p)
    if (!cascade && fs.listStatus(p).nonEmpty)
      throw new IllegalStateException(
        s"namespace ${namespace.mkString(".")} is not empty; " +
          "use DROP NAMESPACE ... CASCADE")
    fs.delete(p, true)
  }

  // ---- procedures: table maintenance without the Scala API -------------
  //
  //   CALL <catalog>.system.compact(table => 'db.t' [, small_bytes =>
  //     n, target_bytes => n])                 → (version, files)
  //   CALL <catalog>.system.vacuum(table => 'db.t' [, keep_versions =>
  //     n])                                    → (removed_files)
  //
  // The stored-procedure analog of OPTIMIZE/VACUUM — SQL-only sessions
  // can run the maintenance loop the streaming sink's many small
  // commits require.

  /** `db.t` (as passed to a procedure's `table` arg) → table root. */
  private[connector] def tableRoot(table: String): String = {
    val path = newTableRoot(table)
    require(Manifest.latestVersion(spark, path).isDefined,
      s"$table is not a manifest table of catalog $catalogName")
    path
  }

  /** Same mapping without the existence check — for procedures that
    * CREATE the table at that path (create_mv). */
  private[connector] def newTableRoot(table: String): String = {
    val parts = table.split('.').toSeq
    require(parts.nonEmpty, "empty table name")
    (warehouse +: parts.map(checkSegment)).mkString("/")
  }

  private def oneRowScan(schema: StructType,
                         values: Array[Any]): java.util.Iterator[Scan] =
    java.util.Collections.singletonList[Scan](new LocalScan {
      override def rows(): Array[InternalRow] =
        Array(new GenericInternalRow(values))
      override def readSchema(): StructType = schema
    }).iterator()

  private object CompactProcedure extends UnboundProcedure
      with BoundProcedure {
    override def name(): String = "compact"
    override def description(): String =
      "bin-pack a manifest table's small files (Manifest.compact)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("small_bytes", LongType)
        .defaultValue((32L * 1024 * 1024).toString).build(),
      ProcedureParameter.in("target_bytes", LongType)
        .defaultValue((128L * 1024 * 1024).toString).build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val root = tableRoot(input.getUTF8String(0).toString)
      val v = Manifest.compact(spark, root, input.getLong(1),
        input.getLong(2))
      oneRowScan(
        StructType(Seq(StructField("version", LongType, false),
          StructField("files", LongType, false))),
        Array[Any](v, Manifest.snapshot(spark, root, v).files.size.toLong))
    }
  }

  private object VacuumProcedure extends UnboundProcedure
      with BoundProcedure {
    override def name(): String = "vacuum"
    override def description(): String =
      "drop old snapshots and delete unreferenced files (Manifest.vacuum)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("keep_versions", IntegerType)
        .defaultValue("2").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val root = tableRoot(input.getUTF8String(0).toString)
      val removed = Manifest.vacuum(spark, root, input.getInt(1))
      oneRowScan(
        StructType(Seq(StructField("removed_files", LongType, false))),
        Array[Any](removed.size.toLong))
    }
  }

  private object ZorderProcedure extends UnboundProcedure
      with BoundProcedure {
    override def name(): String = "zorder"
    override def description(): String =
      "rewrite a manifest table clustered by the Morton interleave of " +
        "2+ integral columns so zone maps skip files on any of them " +
        "(Manifest.zorderBy)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("columns", StringType).build(), // 'x,y[,z…]'
      ProcedureParameter.in("target_bytes", LongType)
        .defaultValue((128L * 1024 * 1024).toString).build(),
      // 'col=val[,col2=val2]' scopes the rewrite to one partition —
      // how z-ordering actually runs at scale; '' = whole table
      ProcedureParameter.in("partition", StringType)
        .defaultValue("''").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val root = tableRoot(input.getUTF8String(0).toString)
      val cols = input.getUTF8String(1).toString
        .split(',').map(_.trim).filter(_.nonEmpty)
      require(cols.length >= 2,
        s"columns must name 2+ columns 'x,y[,z…]', got '${
          input.getUTF8String(1)}'")
      val spec = input.getUTF8String(3).toString
        .split(',').map(_.trim).filter(_.nonEmpty)
        .map { kv =>
          val i = kv.indexOf('=')
          require(i > 0, s"partition entry '$kv' is not col=val")
          kv.take(i).trim -> kv.drop(i + 1).trim
        }.toMap
      val v = Manifest.zorderBy(spark, root, cols.toSeq,
        input.getLong(2), partitionSpec = spec)
      oneRowScan(
        StructType(Seq(StructField("version", LongType, false),
          StructField("files", LongType, false))),
        Array[Any](v, Manifest.snapshot(spark, root, v).files.size.toLong))
    }
  }

  private object TagProcedure extends UnboundProcedure
      with BoundProcedure {
    override def name(): String = "tag"
    override def description(): String =
      "pin a named immutable ref to a snapshot; VERSION AS OF 'name' " +
        "resolves it and retention never reclaims it (Manifest.tag)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("name", StringType).build(),
      ProcedureParameter.in("version", LongType)
        .defaultValue("-1").build()) // -1 = latest
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val root = tableRoot(input.getUTF8String(0).toString)
      val v = input.getLong(2) match {
        case -1L => Manifest.latestVersion(spark, root).get
        case x   => x
      }
      Manifest.tag(spark, root, input.getUTF8String(1).toString, v)
      oneRowScan(
        StructType(Seq(StructField("version", LongType, false))),
        Array[Any](v))
    }
  }

  private object DropTagProcedure extends UnboundProcedure
      with BoundProcedure {
    override def name(): String = "drop_tag"
    override def description(): String =
      "release a named snapshot ref (Manifest.dropTag)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("name", StringType).build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val root = tableRoot(input.getUTF8String(0).toString)
      val dropped = Manifest.dropTag(spark, root,
        input.getUTF8String(1).toString)
      oneRowScan(
        StructType(Seq(StructField("dropped", BooleanType, false))),
        Array[Any](dropped))
    }
  }

  private object AddConstraintProcedure extends UnboundProcedure
      with BoundProcedure {
    override def name(): String = "add_constraint"
    override def description(): String =
      "add a CHECK constraint: every later commit refuses rows that " +
        "violate the expression (Manifest.addConstraint); validate " +
        "(default true) also proves existing rows satisfy it"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("name", StringType).build(),
      ProcedureParameter.in("expr", StringType).build(),
      ProcedureParameter.in("validate", BooleanType)
        .defaultValue("true").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val root = tableRoot(input.getUTF8String(0).toString)
      val v = Manifest.addConstraint(spark, root,
        input.getUTF8String(1).toString,
        input.getUTF8String(2).toString, input.getBoolean(3))
      oneRowScan(
        StructType(Seq(StructField("version", LongType, false))),
        Array[Any](v))
    }
  }

  private object DropConstraintProcedure extends UnboundProcedure
      with BoundProcedure {
    override def name(): String = "drop_constraint"
    override def description(): String =
      "drop a CHECK constraint; false when it does not exist"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("name", StringType).build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val root = tableRoot(input.getUTF8String(0).toString)
      oneRowScan(
        StructType(Seq(StructField("dropped", BooleanType, false))),
        Array[Any](Manifest.dropConstraint(spark, root,
          input.getUTF8String(1).toString)))
    }
  }

  private object ConstraintsProcedure extends UnboundProcedure
      with BoundProcedure {
    override def name(): String = "constraints"
    override def description(): String =
      "list a table's CHECK constraints (name, expr)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("table", StringType).build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val root = tableRoot(input.getUTF8String(0).toString)
      val schema = StructType(Seq(
        StructField("name", StringType, false),
        StructField("expr", StringType, false)))
      val crows = Manifest.constraintsOf(spark, root).toSeq.sortBy(_._1)
        .map { case (n, e) => new GenericInternalRow(Array[Any](
          org.apache.spark.unsafe.types.UTF8String.fromString(n),
          org.apache.spark.unsafe.types.UTF8String.fromString(e)))
          : InternalRow
        }.toArray
      java.util.Collections.singletonList[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = crows
        override def readSchema(): StructType = schema
      }).iterator()
    }
  }

  private object TagsProcedure extends UnboundProcedure
      with BoundProcedure {
    override def name(): String = "tags"
    override def description(): String =
      "list a manifest table's tags (name, version)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("table", StringType).build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val root = tableRoot(input.getUTF8String(0).toString)
      val schema = StructType(Seq(
        StructField("name", StringType, false),
        StructField("version", LongType, false)))
      val tagRows = Manifest.tags(spark, root).toSeq.sortBy(_._1).map {
        case (n, v) => new GenericInternalRow(Array[Any](
          org.apache.spark.unsafe.types.UTF8String.fromString(n), v))
          : InternalRow
      }.toArray
      java.util.Collections.singletonList[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = tagRows
        override def readSchema(): StructType = schema
      }).iterator()
    }
  }

  private object RemoveOrphansProcedure extends UnboundProcedure
      with BoundProcedure {
    override def name(): String = "remove_orphans"
    override def description(): String =
      "delete data files no snapshot or stage references — crash " +
        "leftovers vacuum cannot see (Manifest.removeOrphans)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("grace_ms", LongType)
        .defaultValue((24L * 3600 * 1000).toString).build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val root = tableRoot(input.getUTF8String(0).toString)
      val removed = Manifest.removeOrphans(spark, root, input.getLong(1))
      oneRowScan(
        StructType(Seq(StructField("removed_files", LongType, false))),
        Array[Any](removed.size.toLong))
    }
  }

  private object StageProcedure extends UnboundProcedure
      with BoundProcedure {
    override def name(): String = "stage"
    override def description(): String =
      "stage a view/table's rows as an unpublished commit " +
        "(Manifest.stageAppend) — audit via option(stage, id), then " +
        "publish_stage or discard_stage"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("id", StringType).build(),
      ProcedureParameter.in("source", StringType).build(),
      ProcedureParameter.in("mode", StringType)
        .defaultValue("'append'").build()) // append | replace
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val root = tableRoot(input.getUTF8String(0).toString)
      val partCols = Manifest
        .snapshotMeta(spark, root,
          Manifest.latestVersion(spark, root).get)
        .partCols
      val stage = input.getUTF8String(3).toString match {
        case "append"  => Manifest.stageAppend _
        case "replace" => Manifest.stageReplace _
        case other => throw new IllegalArgumentException(
          s"mode must be 'append' or 'replace', got '$other'")
      }
      stage(spark, root,
        spark.table(input.getUTF8String(2).toString),
        input.getUTF8String(1).toString, partCols)
      oneRowScan(
        StructType(Seq(StructField("staged", BooleanType, false))),
        Array[Any](true))
    }
  }

  private object PublishStageProcedure extends UnboundProcedure
      with BoundProcedure {
    override def name(): String = "publish_stage"
    override def description(): String =
      "fast-forward the table to an audited staged commit " +
        "(Manifest.publishStage); fails loudly if the table advanced"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("id", StringType).build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val root = tableRoot(input.getUTF8String(0).toString)
      val v = Manifest.publishStage(spark, root,
        input.getUTF8String(1).toString)
      oneRowScan(
        StructType(Seq(StructField("version", LongType, false))),
        Array[Any](v))
    }
  }

  private object DiscardStageProcedure extends UnboundProcedure
      with BoundProcedure {
    override def name(): String = "discard_stage"
    override def description(): String =
      "drop a staged commit and reclaim its files (Manifest.discardStage)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("id", StringType).build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val root = tableRoot(input.getUTF8String(0).toString)
      val removed = Manifest.discardStage(spark, root,
        input.getUTF8String(1).toString)
      oneRowScan(
        StructType(Seq(StructField("removed_files", LongType, false))),
        Array[Any](removed.size.toLong))
    }
  }

  private object StagesProcedure extends UnboundProcedure
      with BoundProcedure {
    override def name(): String = "stages"
    override def description(): String =
      "list a manifest table's staged (unpublished) commits"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("table", StringType).build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val root = tableRoot(input.getUTF8String(0).toString)
      val schema = StructType(Seq(
        StructField("id", StringType, false)))
      val stageRows = Manifest.stages(spark, root).map { id =>
        new GenericInternalRow(Array[Any](
          org.apache.spark.unsafe.types.UTF8String.fromString(id)))
          : InternalRow
      }.toArray
      java.util.Collections.singletonList[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = stageRows
        override def readSchema(): StructType = schema
      }).iterator()
    }
  }

  private object ExpireSnapshotsProcedure extends UnboundProcedure
      with BoundProcedure {
    override def name(): String = "expire_snapshots"
    override def description(): String =
      "drop snapshots committed before a timestamp " +
        "(Manifest.expireSnapshots; epoch millis)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("older_than_ms", LongType).build(),
      ProcedureParameter.in("keep_last", IntegerType)
        .defaultValue("1").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val root = tableRoot(input.getUTF8String(0).toString)
      val removed = Manifest.expireSnapshots(spark, root,
        input.getLong(1), input.getInt(2))
      oneRowScan(
        StructType(Seq(StructField("removed_files", LongType, false))),
        Array[Any](removed.size.toLong))
    }
  }

  private object RewriteDeletesProcedure extends UnboundProcedure
      with BoundProcedure {
    override def name(): String = "rewrite_deletes"
    override def description(): String =
      "materialize pending merge-on-read deletes " +
        "(Manifest.rewriteDeletes)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("table", StringType).build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val root = tableRoot(input.getUTF8String(0).toString)
      val v = Manifest.rewriteDeletes(spark, root)
      oneRowScan(
        StructType(Seq(StructField("version", LongType, false))),
        Array[Any](v))
    }
  }

  private object HistoryProcedure extends UnboundProcedure
      with BoundProcedure {
    override def name(): String = "history"
    override def description(): String =
      "list a manifest table's snapshots " +
        "(version, committed_at, files, bytes)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("table", StringType).build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val root = tableRoot(input.getUTF8String(0).toString)
      val schema = StructType(Seq(
        StructField("version", LongType, false),
        StructField("committed_at", TimestampType, true),
        StructField("files", LongType, false),
        StructField("bytes", LongType, false)))
      // NOTE: named distinctly from LocalScan.rows() — referring to a
      // same-named outer val inside the anon class self-recurses
      val snapRows = Manifest.versions(spark, root).map { v =>
        val m = Manifest.snapshotMeta(spark, root, v)
        new GenericInternalRow(Array[Any](v,
          m.ts.map(ms => ms * 1000L).orNull, // micros; legacy = NULL
          m.entries.size.toLong,
          m.entries.map(_.size).sum)): InternalRow
      }.toArray
      java.util.Collections.singletonList[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = snapRows
        override def readSchema(): StructType = schema
      }).iterator()
    }
  }

  private object OptimizeProcedure extends UnboundProcedure
      with BoundProcedure {
    override def name(): String = "optimize"
    override def description(): String =
      "one-call maintenance: fold pending merge-on-read delete files " +
        "back into data (rewrite_deletes), then bin-pack small files " +
        "(compact) — each step a no-op commit when it has nothing to do"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("small_bytes", LongType)
        .defaultValue((32L * 1024 * 1024).toString).build(),
      ProcedureParameter.in("target_bytes", LongType)
        .defaultValue((128L * 1024 * 1024).toString).build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val root = tableRoot(input.getUTF8String(0).toString)
      val before = Manifest.latestVersion(spark, root).getOrElse(
        throw new IllegalStateException(s"$root not initialized"))
      val afterRw = Manifest.rewriteDeletes(spark, root)
      val afterC = Manifest.compact(spark, root, input.getLong(1),
        input.getLong(2))
      oneRowScan(
        StructType(Seq(StructField("version", LongType, false),
          StructField("rewrote_deletes", BooleanType, false),
          StructField("compacted", BooleanType, false),
          StructField("files", LongType, false))),
        Array[Any](afterC, afterRw != before, afterC != afterRw,
          Manifest.snapshot(spark, root, afterC).files.size.toLong))
    }
  }

  private object RollbackProcedure extends UnboundProcedure
      with BoundProcedure {
    override def name(): String = "rollback"
    override def description(): String =
      "roll the table back to an earlier version or tag as a NEW " +
        "commit — history preserved, zero data IO (Manifest.rollback)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("version", StringType).build()) // number or tag
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val root = tableRoot(input.getUTF8String(0).toString)
      val to = Manifest.resolveVersion(spark, root,
        input.getUTF8String(1).toString)
      val v = Manifest.rollback(spark, root, to)
      oneRowScan(
        StructType(Seq(StructField("version", LongType, false))),
        Array[Any](v))
    }
  }

  private object AnalyzeProcedure extends UnboundProcedure
      with BoundProcedure {
    override def name(): String = "analyze"
    override def description(): String =
      "collect per-column NDV/null/length statistics into the table " +
        "header for the CBO (Manifest.analyzeTable); columns = " +
        "comma-separated list, '' = all"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("columns", StringType)
        .defaultValue("''").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val root = tableRoot(input.getUTF8String(0).toString)
      val cols = input.getUTF8String(1).toString
        .split(',').map(_.trim).filter(_.nonEmpty).toSeq
      val v = Manifest.analyzeTable(spark, root, cols)
      oneRowScan(
        StructType(Seq(StructField("version", LongType, false))),
        Array[Any](v))
    }
  }

  private object CreateBranchProcedure extends UnboundProcedure
      with BoundProcedure {
    override def name(): String = "create_branch"
    override def description(): String =
      "fork the table at a version (default latest) as a named " +
        "writable branch (Manifest.createBranch)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("name", StringType).build(),
      ProcedureParameter.in("version", LongType)
        .defaultValue("-1").build()) // -1 = latest
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val root = tableRoot(input.getUTF8String(0).toString)
      val from = input.getLong(2) match {
        case -1L => None
        case x   => Some(x)
      }
      val v = Manifest.createBranch(spark, root,
        input.getUTF8String(1).toString, from)
      oneRowScan(
        StructType(Seq(StructField("forked_at", LongType, false))),
        Array[Any](v))
    }
  }

  private object BranchAppendProcedure extends UnboundProcedure
      with BoundProcedure {
    override def name(): String = "branch_append"
    override def description(): String =
      "append a view/table's rows onto a branch; the main chain is " +
        "untouched (Manifest.commitAppendBranch)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("name", StringType).build(),
      ProcedureParameter.in("source", StringType).build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val root = tableRoot(input.getUTF8String(0).toString)
      val name = input.getUTF8String(1).toString
      val partCols = Manifest
        .branchMeta(spark, root, name).partCols
      val v = Manifest.commitAppendBranch(spark, root, name,
        spark.table(input.getUTF8String(2).toString), partCols)
      oneRowScan(
        StructType(Seq(StructField("head", LongType, false))),
        Array[Any](v))
    }
  }

  private object FastForwardProcedure extends UnboundProcedure
      with BoundProcedure {
    override def name(): String = "fast_forward"
    override def description(): String =
      "squash-publish a branch head onto main; refuses if main " +
        "advanced past the fork (Manifest.fastForward)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("name", StringType).build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val root = tableRoot(input.getUTF8String(0).toString)
      val v = Manifest.fastForward(spark, root,
        input.getUTF8String(1).toString)
      oneRowScan(
        StructType(Seq(StructField("version", LongType, false))),
        Array[Any](v))
    }
  }

  private object DropBranchProcedure extends UnboundProcedure
      with BoundProcedure {
    override def name(): String = "drop_branch"
    override def description(): String =
      "delete a branch and the files only it references " +
        "(Manifest.dropBranch)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("name", StringType).build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val root = tableRoot(input.getUTF8String(0).toString)
      val removed = Manifest.dropBranch(spark, root,
        input.getUTF8String(1).toString)
      oneRowScan(
        StructType(Seq(StructField("removed_files", LongType, false))),
        Array[Any](removed.size.toLong))
    }
  }

  private object BranchesProcedure extends UnboundProcedure
      with BoundProcedure {
    override def name(): String = "branches"
    override def description(): String =
      "list a manifest table's branches (name, head)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("table", StringType).build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val root = tableRoot(input.getUTF8String(0).toString)
      val schema = StructType(Seq(
        StructField("name", StringType, false),
        StructField("head", LongType, false)))
      val branchRows = Manifest.branches(spark, root).toSeq
        .sortBy(_._1).map { case (n, v) =>
          new GenericInternalRow(Array[Any](
            org.apache.spark.unsafe.types.UTF8String.fromString(n), v))
            : InternalRow
        }.toArray
      java.util.Collections.singletonList[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = branchRows
        override def readSchema(): StructType = schema
      }).iterator()
    }
  }

  private object CreateMvProcedure extends UnboundProcedure
      with BoundProcedure {
    override def name(): String = "create_mv"
    override def description(): String =
      "create an incrementally-maintained grouped count/sum view of a " +
        "manifest table (MaterializedAgg.create); the view is itself " +
        "a catalog table"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("view", StringType).build(),
      ProcedureParameter.in("group_cols", StringType).build(), // 'a,b'
      ProcedureParameter.in("sum_cols", StringType)
        .defaultValue("''").build(),
      ProcedureParameter.in("buckets", IntegerType)
        .defaultValue("64").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val src = tableRoot(input.getUTF8String(0).toString)
      val mvRoot = newTableRoot(input.getUTF8String(1).toString)
      def cols(i: Int) = input.getUTF8String(i).toString
        .split(',').map(_.trim).filter(_.nonEmpty).toSeq
      val v = graft.sources.MaterializedAgg.create(spark, src, mvRoot,
        cols(2), cols(3), input.getInt(4))
      oneRowScan(
        StructType(Seq(StructField("version", LongType, false))),
        Array[Any](v))
    }
  }

  private object CreateJoinMvProcedure extends UnboundProcedure
      with BoundProcedure {
    override def name(): String = "create_join_mv"
    override def description(): String =
      "create an incrementally-maintained inner equi-join view of two " +
        "manifest tables (MaterializedJoin.create); the view is " +
        "itself a catalog table"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("left", StringType).build(),
      ProcedureParameter.in("right", StringType).build(),
      ProcedureParameter.in("view", StringType).build(),
      ProcedureParameter.in("keys", StringType).build(), // 'k[,k2…]'
      ProcedureParameter.in("buckets", IntegerType)
        .defaultValue("64").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val l = tableRoot(input.getUTF8String(0).toString)
      val r = tableRoot(input.getUTF8String(1).toString)
      val mvRoot = newTableRoot(input.getUTF8String(2).toString)
      val keys = input.getUTF8String(3).toString
        .split(',').map(_.trim).filter(_.nonEmpty).toSeq
      val v = graft.sources.MaterializedJoin.create(spark, l, r,
        mvRoot, keys, input.getInt(4))
      oneRowScan(
        StructType(Seq(StructField("version", LongType, false))),
        Array[Any](v))
    }
  }

  private object RefreshJoinMvProcedure extends UnboundProcedure
      with BoundProcedure {
    override def name(): String = "refresh_join_mv"
    override def description(): String =
      "advance a materialized join view to both sources' heads — " +
        "incremental delta joins under appends, full rebuild " +
        "otherwise (MaterializedJoin.refresh)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("view", StringType).build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val mvRoot = tableRoot(input.getUTF8String(0).toString)
      val v = graft.sources.MaterializedJoin.refresh(spark, mvRoot)
      val (lb, rb) = graft.sources.MaterializedJoin.bases(spark, mvRoot)
      oneRowScan(
        StructType(Seq(StructField("version", LongType, false),
          StructField("left_base", LongType, false),
          StructField("right_base", LongType, false))),
        Array[Any](v, lb, rb))
    }
  }

  private object RefreshMvProcedure extends UnboundProcedure
      with BoundProcedure {
    override def name(): String = "refresh_mv"
    override def description(): String =
      "advance a materialized view to its source's current version — " +
        "incremental, cost ∝ changed files (MaterializedAgg.refresh)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("view", StringType).build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val src = tableRoot(input.getUTF8String(0).toString)
      val mvRoot = tableRoot(input.getUTF8String(1).toString)
      val v = graft.sources.MaterializedAgg.refresh(spark, src, mvRoot)
      oneRowScan(
        StructType(Seq(StructField("version", LongType, false),
          StructField("base", LongType, false))),
        Array[Any](v,
          graft.sources.MaterializedAgg.baseVersion(spark, mvRoot)))
    }
  }

  private def rowsScan(schema: StructType,
                       data: Array[InternalRow]): java.util.Iterator[Scan] =
    // parameter deliberately NOT named `rows`: inside the anonymous
    // class that name would resolve to the `rows()` method being
    // defined — a self-call the compiler turns into an infinite loop
    java.util.Collections.singletonList[Scan](new LocalScan {
      override def rows(): Array[InternalRow] = data
      override def readSchema(): StructType = schema
    }).iterator()

  // ---- serving-tier procedures: the OpenSearch index lifecycle for
  // SQL-only sessions (reference capability: the search tier is driven
  // through the API, lambda-function.py:108-172; here the index is a
  // catalog table, so after create_search_index the postings are also
  // plain SELECT-able) ---------------------------------------------------

  private object CreateSearchIndexProcedure extends UnboundProcedure
      with BoundProcedure {
    override def name(): String = "create_search_index"
    override def description(): String =
      "build a materialized inverted index over a manifest table " +
        "(SearchIndex.create); the index is itself a catalog table"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("index", StringType).build(),
      ProcedureParameter.in("id_col", StringType).build(),
      ProcedureParameter.in("text_col", StringType).build(),
      ProcedureParameter.in("buckets", IntegerType)
        .defaultValue("64").build(),
      ProcedureParameter.in("positions", BooleanType)
        .defaultValue("false").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val src = tableRoot(input.getUTF8String(0).toString)
      val idxRoot = newTableRoot(input.getUTF8String(1).toString)
      val v = graft.sources.SearchIndex.create(spark, src, idxRoot,
        input.getUTF8String(2).toString, input.getUTF8String(3).toString,
        input.getInt(4), input.getBoolean(5))
      oneRowScan(
        StructType(Seq(StructField("version", LongType, false))),
        Array[Any](v))
    }
  }

  private object RefreshSearchIndexProcedure extends UnboundProcedure
      with BoundProcedure {
    override def name(): String = "refresh_search_index"
    override def description(): String =
      "advance a search index to its source's head — incremental, " +
        "cost ∝ changed files (SearchIndex.refresh)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("index", StringType).build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val src = tableRoot(input.getUTF8String(0).toString)
      val idxRoot = tableRoot(input.getUTF8String(1).toString)
      val v = graft.sources.SearchIndex.refresh(spark, src, idxRoot)
      oneRowScan(
        StructType(Seq(StructField("version", LongType, false),
          StructField("base", LongType, false))),
        Array[Any](v,
          graft.sources.SearchIndex.baseVersion(spark, idxRoot)))
    }
  }

  private object SearchProcedure extends UnboundProcedure
      with BoundProcedure {
    override def name(): String = "search"
    override def description(): String =
      "BM25 top-k from a maintained search index " +
        "(SearchIndex.searchBm25) — partition-pruned term buckets, " +
        "header collection stats; id returned as a string"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("index", StringType).build(),
      ProcedureParameter.in("query", StringType).build(),
      ProcedureParameter.in("k", IntegerType).defaultValue("10").build(),
      ProcedureParameter.in("require_all", BooleanType)
        .defaultValue("false").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val idxRoot = tableRoot(input.getUTF8String(0).toString)
      // bounded ≤k-row collect — the page a search API returns
      val hits = graft.sources.SearchIndex.searchBm25(spark, idxRoot,
          input.getUTF8String(1).toString, input.getInt(2),
          requireAll = input.getBoolean(3))
        .collect()
      rowsScan(
        StructType(Seq(StructField("id", StringType, false),
          StructField("score", DoubleType, false),
          StructField("matched", LongType, false))),
        hits.map(r => new GenericInternalRow(Array[Any](
          org.apache.spark.unsafe.types.UTF8String
            .fromString(String.valueOf(r.get(0))),
          r.getDouble(1), r.getLong(2))): InternalRow))
    }
  }

  private object CreateVectorIndexProcedure extends UnboundProcedure
      with BoundProcedure {
    override def name(): String = "create_vector_index"
    override def description(): String =
      "build a persisted IVF vector index over a manifest table " +
        "(VectorIndex.createFromManifest) whose vector column is an " +
        "array<double>; this procedure resolves the table's root " +
        "directly"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("index", StringType).build(),
      ProcedureParameter.in("id_col", StringType).build(),
      ProcedureParameter.in("vec_col", StringType).build(),
      ProcedureParameter.in("cells", IntegerType)
        .defaultValue("16").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val src = tableRoot(input.getUTF8String(0).toString)
      val idxRoot = newTableRoot(input.getUTF8String(1).toString)
      val v = graft.sources.VectorIndex.createFromManifest(spark, src,
        idxRoot, input.getUTF8String(2).toString,
        input.getUTF8String(3).toString, input.getInt(4))
      oneRowScan(
        StructType(Seq(StructField("version", LongType, false))),
        Array[Any](v))
    }
  }

  private object RefreshVectorIndexProcedure extends UnboundProcedure
      with BoundProcedure {
    override def name(): String = "refresh_vector_index"
    override def description(): String =
      "advance a vector index to its source's head — append-only " +
        "diffs assign against the frozen pivots; rewrites rebuild " +
        "(VectorIndex.refresh)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("index", StringType).build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val src = tableRoot(input.getUTF8String(0).toString)
      val idxRoot = tableRoot(input.getUTF8String(1).toString)
      val v = graft.sources.VectorIndex.refresh(spark, src, idxRoot)
      oneRowScan(
        StructType(Seq(StructField("version", LongType, false))),
        Array[Any](v))
    }
  }

  private object BuildBloomsProcedure extends UnboundProcedure
      with BoundProcedure {
    override def name(): String = "build_blooms"
    override def description(): String =
      "build (or incrementally extend) per-file Bloom sidecars over " +
        "data columns so point lookups prune files zone maps cannot " +
        "(ManifestBlooms.build); only uncovered files are read"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("columns", StringType).build(), // 'a[,b…]'
      ProcedureParameter.in("fpp", DoubleType)
        .defaultValue("0.01").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val root = tableRoot(input.getUTF8String(0).toString)
      val cols = input.getUTF8String(1).toString
        .split(',').map(_.trim).filter(_.nonEmpty).toSeq
      val v = graft.sources.ManifestBlooms.build(spark, root, cols,
        input.getDouble(2))
      oneRowScan(
        StructType(Seq(StructField("version", LongType, false))),
        Array[Any](v))
    }
  }

  private object CloneProcedure extends UnboundProcedure
      with BoundProcedure {
    override def name(): String = "clone"
    override def description(): String =
      "clone a table snapshot into a new table (Manifest.cloneTable): " +
        "shallow = zero-copy manifest references pinned on the source " +
        "with a tag; deep = distributed file copy the clone owns; " +
        "version 0 = head"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("target", StringType).build(),
      ProcedureParameter.in("version", LongType)
        .defaultValue("0").build(),
      ProcedureParameter.in("deep", BooleanType)
        .defaultValue("false").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val src = tableRoot(input.getUTF8String(0).toString)
      val dst = newTableRoot(input.getUTF8String(1).toString)
      val ver = Some(input.getLong(2)).filter(_ > 0L)
      val v = Manifest.cloneTable(spark, src, dst, ver,
        deep = input.getBoolean(3))
      oneRowScan(
        StructType(Seq(StructField("version", LongType, false))),
        Array[Any](v))
    }
  }

  private object ReleaseCloneProcedure extends UnboundProcedure
      with BoundProcedure {
    override def name(): String = "release_clone"
    override def description(): String =
      "drop a shallow clone's pin tag on its source, returning the " +
        "borrowed snapshot to normal retention (Manifest.releaseClone); " +
        "false for deep clones or already-released pins"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val root = tableRoot(input.getUTF8String(0).toString)
      oneRowScan(
        StructType(Seq(StructField("released", BooleanType, false))),
        Array[Any](Manifest.releaseClone(spark, root)))
    }
  }

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    require(ident.namespace.isEmpty ||
      ident.namespace.toSeq == Seq("system"),
      s"unknown procedure namespace ${ident.namespace.mkString(".")}")
    ident.name.toLowerCase match {
      case "compact" => CompactProcedure
      case "vacuum"  => VacuumProcedure
      case "history" => HistoryProcedure
      case "rollback" => RollbackProcedure
      case "optimize" => OptimizeProcedure
      case "analyze" => AnalyzeProcedure
      case "rewrite_deletes" => RewriteDeletesProcedure
      case "expire_snapshots" => ExpireSnapshotsProcedure
      case "zorder" => ZorderProcedure
      case "remove_orphans" => RemoveOrphansProcedure
      case "stage" => StageProcedure
      case "publish_stage" => PublishStageProcedure
      case "discard_stage" => DiscardStageProcedure
      case "stages" => StagesProcedure
      case "tag" => TagProcedure
      case "drop_tag" => DropTagProcedure
      case "tags" => TagsProcedure
      case "create_branch" => CreateBranchProcedure
      case "branch_append" => BranchAppendProcedure
      case "fast_forward" => FastForwardProcedure
      case "drop_branch" => DropBranchProcedure
      case "branches" => BranchesProcedure
      case "create_mv" => CreateMvProcedure
      case "refresh_mv" => RefreshMvProcedure
      case "create_join_mv" => CreateJoinMvProcedure
      case "refresh_join_mv" => RefreshJoinMvProcedure
      case "add_constraint" => AddConstraintProcedure
      case "drop_constraint" => DropConstraintProcedure
      case "constraints" => ConstraintsProcedure
      case "create_search_index" => CreateSearchIndexProcedure
      case "refresh_search_index" => RefreshSearchIndexProcedure
      case "search" => SearchProcedure
      case "create_vector_index" => CreateVectorIndexProcedure
      case "refresh_vector_index" => RefreshVectorIndexProcedure
      case "build_blooms" => BuildBloomsProcedure
      case "clone" => CloneProcedure
      case "release_clone" => ReleaseCloneProcedure
      case other => throw new UnsupportedOperationException(
        s"catalog $catalogName has no procedure '$other' (available: " +
          "compact, vacuum, history, rewrite_deletes, " +
          "expire_snapshots, zorder, remove_orphans, stage, " +
          "publish_stage, discard_stage, stages, tag, drop_tag, tags, " +
          "create_branch, branch_append, fast_forward, drop_branch, " +
          "branches, create_mv, refresh_mv, create_search_index, " +
          "refresh_search_index, search, create_vector_index, " +
          "refresh_vector_index, build_blooms, clone, release_clone, " +
          "create_join_mv, refresh_join_mv, add_constraint, " +
          "drop_constraint, constraints)")
    }
  }

  override def listProcedures(namespace: Array[String])
      : Array[Identifier] =
    Array(Identifier.of(Array("system"), "compact"),
      Identifier.of(Array("system"), "vacuum"),
      Identifier.of(Array("system"), "history"),
      Identifier.of(Array("system"), "rewrite_deletes"),
      Identifier.of(Array("system"), "expire_snapshots"),
      Identifier.of(Array("system"), "zorder"),
      Identifier.of(Array("system"), "remove_orphans"),
      Identifier.of(Array("system"), "stage"),
      Identifier.of(Array("system"), "publish_stage"),
      Identifier.of(Array("system"), "discard_stage"),
      Identifier.of(Array("system"), "stages"),
      Identifier.of(Array("system"), "tag"),
      Identifier.of(Array("system"), "drop_tag"),
      Identifier.of(Array("system"), "tags"),
      Identifier.of(Array("system"), "create_branch"),
      Identifier.of(Array("system"), "branch_append"),
      Identifier.of(Array("system"), "fast_forward"),
      Identifier.of(Array("system"), "drop_branch"),
      Identifier.of(Array("system"), "branches"),
      Identifier.of(Array("system"), "create_mv"),
      Identifier.of(Array("system"), "refresh_mv"))
}
