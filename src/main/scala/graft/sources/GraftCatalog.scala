package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8
import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{FunctionCatalog, Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `TableCatalog` plugin for the `graftlines` format — the way teams
  * actually manage tables, as opposed to the path-based
  * `spark.read.format(...).load(dir)` surface the bare
  * [[GraftLines]] `TableProvider` offers. Every graft session gets it
  * as `graft_cat` from [[graft.GraftExtensions.install]], over
  * `<spark.sql.warehouse.dir>/graft_cat`, unless the session binds
  * `graft_cat` first. Any other name registers with:
  *
  * {{{
  *   spark.sql.catalog.<name>           = graft.sources.GraftCatalog
  *   spark.sql.catalog.<name>.warehouse = /path/to/warehouse
  * }}}
  *
  * and `CREATE TABLE <name>.ns.t (...) USING graftlines`, CTAS,
  * `INSERT INTO` / `INSERT OVERWRITE`, `spark.table("<name>.ns.t")`,
  * `DROP TABLE`, and `df.writeTo(...)` all work catalog-managed.
  *
  * Spark caches a catalog plugin by name at first use, so options set
  * after that are ignored: a second warehouse needs a second name.
  *
  * Layout is filesystem-native and driver-light — the same design
  * stance as the `_graft_stats` manifest: a namespace is a warehouse
  * subdirectory, a table is a directory of `.gl` files inside it, and
  * the authoritative schema lives in a one-line `_graft_schema` file
  * (header encoding, written at create time) so an empty
  * just-created table is readable before its first insert and a
  * table's contract does not drift with whatever file happens to
  * list first. All catalog calls are O(1) driver-side metadata ops
  * against the FileSystem API — nothing here scales with data volume,
  * so the catalog works unchanged against a 100 TB warehouse on HDFS
  * or an object store.
  *
  * Schema evolution: `ALTER TABLE … ADD COLUMN` (nullable, appended)
  * rewrites `_graft_schema`; files written before the change lack the
  * column in their header and read uniform NULL through the catalog
  * (`nullFillMissing` in [[GlReader]]). Deliberately unsupported,
  * loudly: every other ALTER (drop/rename/retype/reorder would
  * re-interpret bytes on disk), a `PARTITIONED BY` other than the two
  * key layouts of [[GlKey]], adopting a directory that already
  * holds `.gl` files or `_graft*` markers, and rename across
  * namespaces on stores where directory rename is not atomic.
  *
  * Identifier resolution is BYTE-EXACT (a name maps to its directory
  * verbatim) — the usual contract of filesystem-backed catalogs: on a
  * case-sensitive store `Events` and `events` are two tables; on a
  * case-insensitive local FS they alias. Spark's `caseSensitive`
  * setting governs column resolution, not catalog object names.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with FunctionCatalog {

  private var catalogName: String = _
  private var warehouse: Path = _

  private def conf = SparkSession.active.sparkContext.hadoopConfiguration
  private def fs = warehouse.getFileSystem(conf)

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val w = options.get("warehouse")
    require(w != null && w.nonEmpty,
      s"graftlines catalog '$name' requires spark.sql.catalog.$name.warehouse")
    warehouse = new Path(w)
  }

  override def name(): String = catalogName

  /** One path component per namespace level; separators are rejected so
    * an identifier can never escape the warehouse root, and the
    * format's own marker-file prefix is RESERVED: a table or namespace
    * named `_graft_schema` would make its PARENT namespace look like a
    * table (tableExists probes for exactly that child path), at which
    * point DROP TABLE on the parent would recursively delete every
    * table in it. Dot-prefixed names are reserved too (staging files,
    * compact scratch). */
  private def checkComponent(s: String): String = {
    require(s.nonEmpty && !s.contains('/') && !s.contains('\\')
      && s != "." && s != "..",
      s"graftlines catalog: illegal name component '$s'")
    s
  }

  /** Reserved-prefix rule, enforced only where a NAME IS MINTED
    * (create/rename): a pre-existing table whose name slipped in under
    * an older build must stay loadable and droppable — path resolution
    * rejecting `_graft*` outright would strand it with no migration
    * escape hatch (load and targeted drop are safe; it is CREATING
    * such a name that sets up the parent-namespace-looks-like-a-table
    * trap documented above). */
  private def checkCreatable(s: String): String = {
    checkComponent(s)
    require(!s.startsWith("_graft") && !s.startsWith("."),
      s"graftlines catalog: name component '$s' is reserved " +
        "(_graft* marker files and dot-prefixed staging names)")
    s
  }

  private def nsPath(namespace: Array[String]): Path =
    namespace.foldLeft(warehouse)((p, c) => new Path(p, checkComponent(c)))

  private def tablePath(ident: Identifier): Path =
    new Path(nsPath(ident.namespace()), checkComponent(ident.name()))

  /** The directory of `ident`: a path-based read of a catalog table
    * takes it from here, so it sees what the catalog wrote. */
  def location(ident: Identifier): String = tablePath(ident).toString

  private def schemaFile(dir: Path): Path =
    new Path(dir, GraftCatalog.SchemaName)

  // ---- TableCatalog -------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val p = nsPath(namespace)
    if (!fs.exists(p)) throw new NoSuchNamespaceException(
      name() +: namespace)
    fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && fs.exists(schemaFile(st.getPath)))
      .map(st => Identifier.of(namespace, st.getPath.getName))
      .toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    fs.exists(schemaFile(tablePath(ident)))

  private def readSchema(ident: Identifier): StructType = {
    val sf = schemaFile(tablePath(ident))
    if (!fs.exists(sf)) throw new NoSuchTableException(ident)
    GraftCatalog.readSchemaFile(fs, sf)
  }

  /** Publishes `_graft_schema` ([[GlMetaFile]]): create-once for
    * CREATE, so two racing CREATE TABLE for one identifier cannot both
    * succeed, and replace for ALTER, never in place — a truncated
    * schema would strand the table unreadable with tableExists still
    * true. */
  private def writeSchema(dir: Path, schema: StructType,
      create: Boolean): Unit = {
    val lines = Seq(GraftLines.header(schema))
    if (create) GlMetaFile.createOnce(fs, schemaFile(dir), lines)
    else GlMetaFile.replace(fs, schemaFile(dir), lines)
  }

  /** Catalog-managed tables read with `nullFillMissing = true`: the
    * catalog's `_graft_schema` is the authority, and a column absent
    * from an individual file's header is one appended by ALTER TABLE
    * after that file was written — it reads as uniform NULL. Path-based
    * reads (no catalog schema to vouch) keep the loud
    * missing-column error. */
  override def loadTable(ident: Identifier): Table =
    new GlTable(tablePath(ident).toString, readSchema(ident),
      nullFillMissing = true)

  /** SQL time travel: `SELECT … FROM cat.ns.t VERSION AS OF n` routes
    * here. Only meaningful on versioned tables (TBLPROPERTIES
    * ('versioned'='true') at create time); the scan resolves the
    * pinned generation and a stale/absent generation fails loudly at
    * plan time (see GraftLines.resolveDataFileStatuses). Writes to a
    * pinned table are rejected by GlTable. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = tablePath(ident)
    val schema = readSchema(ident) // also throws NoSuchTableException
    require(version.toIntOption.isDefined,
      s"graftlines catalog: VERSION AS OF expects a generation number, " +
        s"got '$version'")
    require(GraftLines.gensOf(dir.toString, conf).versioned,
      s"graftlines catalog: $ident is not a versioned table — create it " +
        "with TBLPROPERTIES ('versioned'='true')")
    new GlTable(dir.toString, schema, nullFillMissing = true,
      pinnedVersion = Some(version.toInt))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    (ident.namespace() :+ ident.name()).foreach(checkCreatable)
    // `PARTITIONED BY (col)` or `(bucket(n, col))`: see GlKey
    val key = GlKey.parse(partitions)
    key.foreach(_.check(schema, "graftlines catalog"))
    GraftLines.header(schema) // loudly reject unstorable types up front
    // LOCATION/EXTERNAL would silently land data at the warehouse path
    // instead of where the user declared — external-location adoption
    // is deliberately NOT a feature (see class doc), so say so loudly
    // rather than ignore the clause
    require(!properties.containsKey(TableCatalog.PROP_LOCATION)
        && !properties.containsKey(TableCatalog.PROP_EXTERNAL),
      s"graftlines catalog: LOCATION/EXTERNAL is not supported — " +
        s"tables live under the warehouse at <warehouse>/<ns>/<table>")
    // Unknown TBLPROPERTIES are REJECTED, not silently dropped (r15
    // review — the same posture as LOCATION/NOT NULL below): the
    // format persists exactly one property ('versioned'), so a typo'd
    // `TBLPROPERTIES ('versioned'='ture')` or a property this build
    // does not know would otherwise create a silently-different table.
    // Spark-managed reserved keys (provider/owner/...) pass through —
    // Spark injects them on every CREATE/CTAS.
    locally {
      val sparkManaged = Set(TableCatalog.PROP_PROVIDER,
        TableCatalog.PROP_OWNER, TableCatalog.PROP_TABLE_TYPE,
        TableCatalog.PROP_IS_MANAGED_LOCATION)
      properties.keySet().asScala.foreach { k =>
        // COMMENT is a first-class SQL clause Spark injects as a
        // reserved property, not a TBLPROPERTIES typo — but the
        // graftlines header stores name:type only, so a comment
        // CANNOT persist and loadTable would come back without it.
        // Same reject-don't-silently-drop posture, clearer message
        // (ADVICE r15: the generic 'unknown table property' text
        // misread the clause as a typo).
        require(k != TableCatalog.PROP_COMMENT,
          "graftlines catalog: COMMENT cannot persist — the " +
            "graftlines header stores column name:type only, so the " +
            "comment would be silently lost on reload; drop the " +
            "COMMENT clause")
        require(sparkManaged.contains(k) || k == "versioned"
            || k.startsWith("option."),
          s"graftlines catalog: unknown table property '$k' — the " +
            "format persists only 'versioned'; refusing to silently " +
            "drop it")
      }
      val v = properties.get("versioned")
      require(v == null || "true".equalsIgnoreCase(v)
          || "false".equalsIgnoreCase(v),
        s"graftlines catalog: 'versioned' must be true or false, got '$v'")
    }
    // NOT NULL cannot round-trip: the header stores name:type only, so
    // loadTable would report a different (all-nullable) schema and an
    // INSERTed NULL would pass the constraint unchecked. Constraints
    // that cannot be honoured are rejected, not silently dropped.
    // (CTAS is unaffected — Spark hands CTAS schemas over asNullable.)
    schema.fields.filterNot(_.nullable).foreach { f =>
      throw new UnsupportedOperationException(
        s"graftlines catalog: column '${f.name}' is NOT NULL — the " +
          "format stores no nullability, so the constraint would be " +
          "silently dropped; declare the column nullable")
    }
    // the namespace must already exist — implicitly minting it via the
    // mkdirs below would let a typo'd CREATE TABLE invent a namespace
    // no CREATE NAMESPACE ever declared (the same rule renameTable
    // enforces). The root namespace (empty) always exists.
    if (ident.namespace().nonEmpty && !namespaceExists(ident.namespace()))
      throw new NoSuchNamespaceException(name() +: ident.namespace())
    val dir = tablePath(ident)
    if (fs.exists(schemaFile(dir))) throw new TableAlreadyExistsException(ident)
    // A directory already holding .gl files is a path-based dataset (or
    // debris from a half-dropped table); silently adopting it as table
    // data would bless files whose schemas nobody checked. Stale
    // `_graft*` markers are just as dangerous: a leftover partcol /
    // versioned / stats file would silently configure the NEW table
    // (or half-fail the create AFTER the schema committed). External-
    // location adoption is deliberately NOT a feature — fail loudly.
    if (fs.exists(dir)) {
      val leftovers = fs.listStatus(dir)
        .filter(st => st.isFile
          && (st.getPath.getName.endsWith(GraftLines.Ext)
            || st.getPath.getName.startsWith("_graft")))
      require(leftovers.isEmpty,
        s"graftlines catalog: cannot create $ident — $dir already contains "
          + s"${leftovers.length} pre-existing data/marker file(s) "
          + s"(${leftovers.take(3).map(_.getPath.getName).mkString(", ")}); "
          + "refusing to adopt (drop the directory or pick a new name)")
    }
    fs.mkdirs(dir)
    try writeSchema(dir, schema, create = true)
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
        throw new TableAlreadyExistsException(ident)
    }
    // TBLPROPERTIES ('versioned'='true') opts the table into time
    // travel: the marker flips every commit path to generation
    // publishing (see GraftLines.VersionMarker).
    if ("true".equalsIgnoreCase(properties.getOrDefault("versioned", "")))
      GraftLines.markVersioned(dir.toString, conf)
    key.foreach(GlKey.writeKey(dir.toString, _, conf))
    new GlTable(dir.toString, schema, nullFillMissing = true)
  }

  // ---- FunctionCatalog: the bucket function both the write
  // distribution and the reported read partitioning resolve to, so two
  // co-bucketed tables' transforms are provably the SAME function and
  // Spark plans storage-partitioned joins across them. ----

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, "bucket"))

  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.name.equalsIgnoreCase("bucket")) GraftCatalog.BucketUnbound
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  /** Exactly one evolution is supported, because it is the only one the
    * read path can honour without rewriting data: APPEND a nullable
    * top-level column. Old files lack the column in their header and
    * read uniform NULL (see [[GlReader]]'s `nullFillMissing`); new
    * inserts write the evolved header. Everything else (drop, rename,
    * type change, reorder, nested fields) would silently re-interpret
    * bytes already on disk — rejected loudly. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    var schema = readSchema(ident)
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          "graftlines catalog: ALTER TABLE can only add top-level columns")
        val colName = add.fieldNames()(0)
        require(add.isNullable,
          s"graftlines catalog: added column '$colName' must be nullable — "
            + "existing files have no value for it")
        require(add.position() == null,
          "graftlines catalog: added columns append at the end (FIRST/AFTER "
            + "would reorder positions files already rely on)")
        require(!schema.fieldNames.exists(_.equalsIgnoreCase(colName)),
          s"graftlines catalog: column '$colName' already exists in $ident")
        schema = schema.add(StructField(colName, add.dataType, nullable = true))
      case other => throw new UnsupportedOperationException(
        s"graftlines catalog: unsupported ALTER TABLE change $other — only "
          + "ADD COLUMN (nullable, appended) is supported; anything else "
          + "re-interprets bytes already on disk")
    }
    GraftLines.header(schema) // reject unstorable added types up front
    val dir = tablePath(ident)
    writeSchema(dir, schema, create = false)
    new GlTable(dir.toString, schema, nullFillMissing = true)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tablePath(ident)
    if (!fs.exists(schemaFile(dir))) false
    else fs.delete(dir, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    // the new name is minted here — reserved-prefix rule applies (and
    // this is also the migration path for a stranded `_graft*` name)
    (newIdent.namespace() :+ newIdent.name()).foreach(checkCreatable)
    // the destination namespace must already exist — implicitly minting
    // it here would let a typo'd rename invent a namespace no CREATE
    // NAMESPACE ever declared (the session-catalog convention)
    if (!namespaceExists(newIdent.namespace()))
      throw new NoSuchNamespaceException(name() +: newIdent.namespace())
    // cross-namespace moves need an ATOMIC directory rename (class-doc
    // contract): on object stores Hadoop renames a directory as
    // per-object copy + delete, and a mid-way failure leaves the table
    // split across two half-directories, both of which tableExists may
    // report as real. Reject loudly there; same-namespace renames are
    // one-entry metadata moves everywhere.
    if (!(oldIdent.namespace() sameElements newIdent.namespace())) {
      val scheme =
        try fs.getUri.getScheme catch { case _: Exception => null }
      require(scheme == "file" || scheme == "hdfs",
        s"graftlines catalog: cross-namespace rename needs an atomic " +
          s"directory rename, which scheme '$scheme' does not provide — " +
          "CTAS into the new namespace and drop the old table instead")
    }
    val dst = tablePath(newIdent)
    require(fs.rename(tablePath(oldIdent), dst),
      s"graftlines catalog: rename $oldIdent -> $newIdent failed")
  }

  // ---- SupportsNamespaces ------------------------------------------

  override def defaultNamespace(): Array[String] = Array.empty

  override def listNamespaces(): Array[Array[String]] = {
    if (!fs.exists(warehouse)) return Array.empty
    fs.listStatus(warehouse).toSeq
      // root-level TABLE dirs (empty default namespace) are not
      // namespaces — same filter as the nested overload, or SHOW
      // NAMESPACES would offer names whose DROP ... CASCADE deletes a
      // table wholesale
      .filter(st => st.isDirectory && !fs.exists(schemaFile(st.getPath)))
      .map(st => Array(st.getPath.getName))
      .toArray
  }

  override def listNamespaces(
      namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val p = nsPath(namespace)
    if (!fs.exists(p)) throw new NoSuchNamespaceException(
      name() +: namespace)
    fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && !fs.exists(schemaFile(st.getPath)))
      .map(st => namespace :+ st.getPath.getName)
      .toArray
  }

  /** A TABLE directory is not a namespace: without the schema-file
    * rejection, `DROP NAMESPACE cat.ns.t CASCADE` would delete table t
    * wholesale (bypassing dropTable) and CREATE TABLE could nest a
    * table inside another table's directory, where no listing ever
    * finds it. */
  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || {
      val p = nsPath(namespace)
      fs.exists(p) && !fs.exists(schemaFile(p))
    }

  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(
      name() +: namespace)
    Map.empty[String, String].asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    namespace.foreach(checkCreatable)
    // properties cannot be persisted (a namespace is a bare directory)
    // — reject rather than silently drop them; Spark itself injects
    // 'owner' on every CREATE NAMESPACE, which is the one pass-through
    metadata.keySet().asScala.foreach { k =>
      // name the COMMENT clause rather than calling it an unknown
      // property — it is Spark-injected, not a user typo (ADVICE r15)
      require(k != SupportsNamespaces.PROP_COMMENT,
        "graftlines catalog: COMMENT cannot persist — a namespace is " +
          "a bare warehouse directory with nowhere to store it; drop " +
          "the COMMENT clause")
      require(k == SupportsNamespaces.PROP_OWNER,
        s"graftlines catalog: namespace property '$k' cannot be " +
          "persisted (a namespace is a bare warehouse directory); " +
          "refusing to silently drop it")
    }
    val p = nsPath(namespace)
    // a TABLE directory must never become a namespace: tables nested
    // inside it would be invisible to every listing, and DROP NAMESPACE
    // CASCADE on it would delete the table wholesale (r15 review —
    // same trap class namespaceExists/dropNamespace already guard)
    if (fs.exists(schemaFile(p)))
      throw new IllegalArgumentException(
        s"graftlines catalog: ${namespace.mkString(".")} is a table — " +
          "cannot create a namespace over it")
    // CREATE NAMESPACE without IF NOT EXISTS must fail on a duplicate
    // (the TableCatalog convention createTable already follows)
    if (fs.exists(p))
      throw new org.apache.spark.sql.catalyst.analysis
        .NamespaceAlreadyExistsException(
          (name() +: namespace).toArray[String])
    fs.mkdirs(p)
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graftlines catalog: ALTER NAMESPACE is not supported")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    val p = nsPath(namespace)
    // a table dir is not a namespace (see namespaceExists): report
    // not-found rather than cascade-deleting a table
    if (!fs.exists(p) || fs.exists(schemaFile(p))) false
    else {
      if (!cascade) require(fs.listStatus(p).isEmpty,
        s"namespace ${namespace.mkString(".")} is not empty")
      fs.delete(p, true)
    }
  }
}

object GraftCatalog {
  /** One-line authoritative table schema, header-encoded. Like
    * `_graft_stats`, no `.gl` suffix — never listed as data. */
  val SchemaName = "_graft_schema"

  /** THE schema-file parse, shared by the catalog (`loadTable`) and
    * the path-based reader (`GraftLines.readDirSchema`) so the same
    * directory can never parse differently depending on access path. */
  private[sources] def readSchemaFile(
      fs: org.apache.hadoop.fs.FileSystem,
      sf: Path): org.apache.spark.sql.types.StructType = {
    val br = new BufferedReader(new InputStreamReader(fs.open(sf), UTF_8))
    try GraftLines.parseHeader(br.readLine(), sf.toString) finally br.close()
  }

  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.types._

  /** bucket(n, col) = non-negative col mod n — deliberately the
    * simplest consistent-hash; the POINT is that writer routing
    * ([[GraftLines.bucketOf]]) and this planner-visible form are one
    * function, so SPJ compatibility is by construction. */
  object BucketUnbound extends UnboundFunction {
    override def name(): String = "bucket"
    override def description(): String =
      "bucket(numBuckets INT, col BIGINT|INT): non-negative col mod n"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.fields.length == 2,
        s"bucket expects (numBuckets, col), got ${inputType.catalogString}")
      inputType.fields(1).dataType match {
        case LongType => BucketLong
        case IntegerType => BucketInt
        case other => throw new UnsupportedOperationException(
          s"bucket column must be BIGINT/INT, got $other")
      }
    }
  }

  object BucketLong extends ScalarFunction[Integer] {
    override def inputTypes(): Array[DataType] = Array(IntegerType, LongType)
    override def resultType(): DataType = IntegerType
    override def name(): String = "bucket"
    override def canonicalName(): String = "graft.bucket"
    override def isResultNullable: Boolean = false
    override def produceResult(input: InternalRow): Integer =
      GraftLines.bucketOf(input.getLong(1), input.getInt(0))
  }

  object BucketInt extends ScalarFunction[Integer] {
    override def inputTypes(): Array[DataType] = Array(IntegerType, IntegerType)
    override def resultType(): DataType = IntegerType
    override def name(): String = "bucket"
    override def canonicalName(): String = "graft.bucket"
    override def isResultNullable: Boolean = false
    override def produceResult(input: InternalRow): Integer =
      GraftLines.bucketOf(input.getInt(1).toLong, input.getInt(0))
  }
}
