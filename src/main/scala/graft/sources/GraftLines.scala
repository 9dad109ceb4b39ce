package graft.sources

import java.io.{BufferedReader, InputStreamReader, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{InternalRow, StructFilters, expressions => cx}
import org.apache.spark.sql.catalyst.expressions.{BasePredicate, BoundReference, GenericInternalRow, Predicate, SpecificInternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability, TableProvider, TruncatableTable}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform, Expression => V2Expression}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** `graftlines` — a complete DataSource V2 connector (SURVEY §2A/A1
  * growth surface: the engine's own pluggable source, not just consumers
  * of built-in formats).
  *
  * The format itself is deliberately trivial — a directory of UTF-8
  * text files, each starting with a `name:type` header line, rows
  * tab-separated with C-style escapes and `\N` for NULL — because the
  * point is the CONNECTOR contract, the part a user switching engines
  * actually touches:
  *
  *  - **Filter pushdown** ([[SupportsPushDownFilters]]): comparison /
  *    null / IN / boolean-combinator predicates on atomic columns are
  *    accepted and evaluated EXACTLY inside the reader (Spark removes
  *    them from the post-scan Filter, so the contract is exactness, not
  *    best-effort); anything else (LIKE family, date/timestamp
  *    literals, NaN literals) is declined and stays a residual Spark
  *    filter — partial pushdown done honestly.
  *  - **Column pruning** ([[SupportsPushDownRequiredColumns]]): the
  *    reader converts only required ∪ filter-referenced fields; pruned
  *    columns are never materialized.
  *  - **Distributed read**: block-splittable — files larger than
  *    `spark.sql.files.maxPartitionBytes` fan out as one
  *    [[InputPartition]] per byte range (readers scan to the next
  *    newline, the classic text-split rule), so scan parallelism is
  *    bounded by data volume, never by file count; each task opens its
  *    file straight against the Hadoop FileSystem API (conf travels
  *    via the standard [[SerializableConfiguration]]).
  *  - **Distributed write** ([[BatchWrite]]): per-task writers stream
  *    to task-unique STAGING names and the job commit makes them live
  *    in one driver-side step ([[GraftLines.publish]]), so readers
  *    never observe a half-written job; `mode("overwrite")` plans
  *    OverwriteByExpression(true) which this builder satisfies via
  *    [[SupportsTruncate]], with the old files replaced at commit
  *    time. Job abort deletes only staging files. Every `_graft_*`
  *    metadata file a commit writes is published whole
  *    ([[GlMetaFile]]).
  *
  *  - **Columnar read** ([[PartitionReaderFactory.supportColumnarReads]]):
  *    ordinary scans emit `ColumnarBatch`es of reusable on-heap column
  *    vectors — downstream operators consume vectors inside
  *    whole-stage codegen instead of paying a virtual call per row.
  *    Parsing itself stays line-wise (inherent to a text format).
  *  - **File skipping**: writers accumulate per-file column stats into
  *    the `_graft_stats` manifest; `planInputPartitions` prunes files
  *    whose min/max prove no row can match the pushed filters.
  *  - **Keyed tables**: identity-partitioned or bucketed directories
  *    ([[GlKey]]) land one key per file and scan with
  *    KeyGroupedPartitioning, so co-keyed tables join without exchange.
  *
  * Remaining honest limit (documented at [[GraftLines.publish]]): the
  * commit's rename loop is atomic per file, not across files, and two
  * jobs racing one plain directory still need a catalog on top.
  */
class GraftLines extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graftlines"

  /** Writes pass the DataFrame schema straight in (no inference on an
    * output dir that may not exist yet). */
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val dir = GraftLines.pathOf(options)
    GraftLines.readDirSchema(dir, GraftLines.requestedVersion(dir, options)._1)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // a directory carrying the catalog's `_graft_schema` IS a
    // catalog-managed table, whatever access path reached it: its
    // authoritative schema vouches for ALTER-appended columns, so the
    // missing-column-reads-NULL rule applies exactly as it does
    // through the catalog (before this, a path read of an evolved
    // table dir errored on pre-ALTER files — or silently dropped the
    // new column, depending on which file's header inference happened
    // to pick). The catalog schema only vouches for columns it
    // CONTAINS: a user-supplied external schema with a column in
    // neither any file nor `_graft_schema` (a typo) must keep the
    // loud error, not read uniform NULL. Raw directories keep the
    // loud error unless the option opts in.
    val path = properties.get("path")
    val vouched = "true".equalsIgnoreCase(
      properties.get(GraftLines.NullFillOption)) ||
      GraftLines.catalogSchemaOf(path).exists(cat =>
        schema.fieldNames.forall(cat.fieldNames.contains))
    new GlTable(path, schema, nullFillMissing = vouched)
  }
}

object GraftLines {
  val Ext = ".gl"
  /** Read option: `true` gives a path-based read the catalog rule for
    * schema-evolved directories — a requested column missing from a
    * file's own header reads NULL instead of erroring. */
  val NullFillOption = "graft.nullFillMissing"
  /** Synthetic metadata column every reader can produce: the path of
    * the data file holding the row (`SELECT _file FROM t`) — the
    * lineage/debugging column real formats expose, and the group id
    * row-level operations ask for via requiredMetadataAttributes. */
  val FileCol = "_file"
  /** Per-directory stats manifest (no `.gl` suffix — must never be
    * listed as data). One line per (file, stats-eligible column):
    * `baseName \t rows \t col \t nulls \t min \t max \t ok` with
    * min/max in the cell text encoding (`\N` when the column is
    * all-NULL in that file) and a trailing sentinel field. The
    * sentinel is per-line integrity: a line truncated mid-write would
    * otherwise still parse — a numeric max `123456` cut to `12` is
    * valid text with a silently wrong value, and a wrong skip is row
    * loss, not a perf bug. Truncation can only hit the line's tail, so
    * "last field == sentinel" rejects exactly the damaged lines while
    * intact ones keep pruning. String columns ride the same line shape
    * with the literal `bloomv1` in the min slot and a fixed-width hex
    * Bloom filter in the max slot (see [[GlBloom]]) — equality
    * skipping for the type family min/max pruning declines. The
    * manifest is the file-skipping index — the role parquet footers /
    * Iceberg manifests play: the driver reads ONE small file at plan
    * time instead of opening N data files. */
  val StatsName = "_graft_stats"
  val StatsSentinel = "ok"
  /** Per-file LENGTH cross-check line: `baseName \t rows \t #len \t 0
    * \t byteLen \t - \t ok` (the marker rides the column slot, so a
    * reader that predates it sees an unknown column name and skips the
    * line — same forward/backward posture as the Bloom lines). Stats
    * maintenance is deliberately best-effort: [[mergeStats]] publishes
    * the whole manifest or nothing ([[GlMetaFile.replace]]) and
    * swallows a failed publish, so the manifest a commit leaves may be
    * the previous one or none. That is safe for PRUNING (a stale line
    * only ever widens the kept range after a same-name republish
    * shrinks a file) but NOT for the COUNT(*)-from-manifest shortcut, where a
    * stale row count would be served as an exact result. The recorded
    * byte length is the staleness detector: any consumer that treats
    * `rows` as EXACT must require `#len == FileStatus.getLen` and
    * degrade to a real scan otherwise. Why the length check is a real
    * staleness PROOF, not mere defense-in-depth: the only path that
    * republishes under an existing name is a plain-directory
    * [[publish]] onto an existing target. Batch, COW and compact final
    * names carry a driver-generated job tag ([[newJobTag]]), so in
    * practice only the streaming sink's
    * `part-<pid>-q<query>-e<E>-<task>` names meet an existing file,
    * and a retried epoch deterministically rewrites the SAME rows, so
    * an unchanged length accompanies an unchanged count. A future
    * rewrite path that both changes the row set AND rewrites surviving values
    * under one name would break the proof (counts could change at a
    * coincidentally-preserved length) — such a path must mint fresh
    * names or record a content token (mtime / header checksum) beside
    * the length. */
  val StatsLenMarker = "#len"

  /** Opt-in TIME TRAVEL, as a table feature (the Delta/Iceberg
    * posture: versioning is a property of the TABLE, not a reader
    * flag). A directory is versioned iff the `_graft_versioned`
    * marker exists (written by [[markVersioned]], which the catalog
    * calls for `TBLPROPERTIES ('versioned'='true')`) or any generation
    * manifest `_graft_gen.<N>` does; [[gensOf]] is the one place that
    * decides it. On a versioned table every commit —
    * append, overwrite, row-level COW rewrite, streaming epoch or
    * compact ([[publish]]) — writes a NEW generation manifest listing
    * the data files of that version and deletes nothing; data files
    * carry a `-g<N>` suffix so a name can never be reused across
    * generations (reuse would rewrite history in place). The first
    * generation of a directory that already held files adopts them,
    * except `-g<N>` names (a crashed versioned commit's orphans).
    * Readers resolve the requested generation (default:
    * latest) and plan ONLY its files, so `VERSION AS OF n` is one
    * extra metadata-file read at plan time — the data path, pruning,
    * block splitting, and runtime filtering are identical. Non-
    * versioned directories keep the original semantics bit-for-bit
    * (physical truncation, directory-listing planning). Honest
    * limits: generations accumulate until [[expireVersions]] runs
    * (retention is a policy, so it is an explicit call, not a
    * side effect), and concurrent committers race on the next
    * generation number exactly as they race on the rename loop — the
    * catalog layer remains the multi-writer answer. */
  val VersionMarker = "_graft_versioned"
  val GenPrefix = "_graft_gen."

  /** Marker of an identity-partitioned table: the column's name on one
    * line. One of the two persisted forms of a [[GlKey]]. */
  val PartColMarker = "_graft_partcol"

  /** Marker of a bucketed table: `col \t numBuckets` on one line. One of
    * the two persisted forms of a [[GlKey]]. */
  val BucketMarker = "_graft_buckets"

  /** The one bucket function, shared by writer routing and the
    * FunctionCatalog-published form: non-negative value mod n. */
  private[sources] def bucketOf(v: Long, n: Int): Int =
    (((v % n) + n) % n).toInt

  // the -b<id> tag may be followed by a generation suffix: versioned
  // commits rename `…-b3.gl` → `…-b3-g7.gl`, so the id must parse
  // through the trailing `-g<N>` run or bucketed+versioned tables
  // would silently lose KeyGroupedPartitioning on every commit
  private[sources] val BucketNamePattern =
    java.util.regex.Pattern.compile(".*-b(\\d+)(?:-g\\d+)*\\.gl$")

  /** Job-unique file-name tag for batch writes. Task ids restart at 0
    * in every application, so without it two applications' batch
    * names could collide and a commit would replace a committed file.
    * The leading 't' keeps the segment disjoint from the streaming
    * [[epochTag]] and from `-b`/`-g`/`-p` suffix parsing. Streaming
    * names carry no job tag: a replayed epoch must meet its own
    * earlier names. */
  private[sources] def newJobTag(): String =
    "t" + java.lang.Long.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong()
        | (1L << 60)).take(8)

  /** The task writer factory of every data file written into `dir`
    * (made here if missing): appends and overwrites ([[GlWrite]]),
    * row-level rewrites ([[GlReplaceWrite]]), streaming epochs
    * ([[GlStreamingWrite]], whose names carry `queryId`) and
    * [[compact]]. On a keyed table each task fans its rows out to one
    * file per key ([[GlFanOutWriter]]); otherwise a task lands one file. */
  private[sources] def writerFactory(dir: String, schema: StructType,
      key: Option[GlKey], queryId: String = queryTag("")): GlWriterFactory = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val p = new Path(dir)
    p.getFileSystem(conf).mkdirs(p)
    GlWriterFactory(dir, schema, new SerializableConfiguration(conf), key,
      queryId)
  }

  /** The part of a streaming file name that identifies its epoch:
    * replace-per-epoch matches it as a substring, so the trailing dash
    * keeps epoch 1 from matching epoch 12. */
  private[sources] def epochTag(queryId: String, epoch: Long): String =
    s"-q$queryId-e$epoch-"

  /** The name a versioned commit at generation `n` gives `name`. */
  private[sources] def genName(name: String, n: Int): String =
    name.stripSuffix(Ext) + s"-g$n$Ext"

  private[sources] def bucketIdOf(baseName: String): Option[Int] = {
    val m = BucketNamePattern.matcher(baseName)
    if (m.matches()) m.group(1).toIntOption else None
  }

  /** Makes `dir` (created if missing) a versioned table: the one
    * writer of [[VersionMarker]], an empty file whose presence is the
    * whole fact. [[gensOf]] is its one reader. */
  def markVersioned(dir: String,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    fs.mkdirs(p)
    fs.create(new Path(p, VersionMarker), true).close()
  }

  /** Latest committed generation of a versioned table — the number
    * `versionAsOf` would address to pin TODAY'S snapshot. Operators
    * that mutate a table but must keep serving pre-mutation frames
    * afterwards (DedupIndex.ingest's audit report) read this before
    * writing: a frame over the live table re-lists files at execution
    * time, so a post-mutation evaluation would silently include the
    * mutation. 0 when the table has no committed generation yet. */
  def currentVersion(dir: String,
      conf: org.apache.hadoop.conf.Configuration): Int =
    genVersions(dir, conf).lastOption.getOrElse(0)

  /** Committed generations plus the versioned decision, from one
    * listing (the marker is probed only when no generation exists):
    * the table state a [[publish]] works from. */
  private[sources] def gensOf(dir: String,
      conf: org.apache.hadoop.conf.Configuration): GlGens = {
    val marker = new Path(dir, VersionMarker)
    val gens = genVersions(dir, conf)
    GlGens(gens, gens.nonEmpty || marker.getFileSystem(conf).exists(marker))
  }

  /** Committed generation numbers, ascending. */
  private[sources] def genVersions(dir: String,
      conf: org.apache.hadoop.conf.Configuration): Seq[Int] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith(GenPrefix))
      .flatMap(st => st.getPath.getName.stripPrefix(GenPrefix).toIntOption)
      .sorted
  }

  private[sources] def genPath(dir: String, n: Int): Path =
    new Path(new Path(dir), s"$GenPrefix$n")

  /** Data-file base names of generation `n` (comment lines — the
    * streaming sink's `#epoch:` tag — are manifest metadata, never
    * file names). */
  private[sources] def readGen(dir: String, n: Int,
      conf: org.apache.hadoop.conf.Configuration): Seq[String] = {
    val p = genPath(dir, n)
    val fs = p.getFileSystem(conf)
    val br = new BufferedReader(new InputStreamReader(fs.open(p), UTF_8))
    try Iterator.continually(br.readLine()).takeWhile(_ != null)
      .filter(l => l.nonEmpty && !l.startsWith("#")).toList
    finally br.close()
  }

  /** (epoch, queryTag) pairs already committed into a versioned
    * directory's generation manifests (the streaming sink's idempotence
    * ledger): generation manifests published by [[GlStreamingWrite]]
    * carry a `#epoch:<E>:<query>` first line, so "was this epoch
    * committed?" is answered by the SAME publish ([[GlMetaFile]]) that
    * published the data — there is no separate log whose lag could double-commit
    * a replayed micro-batch. The QUERY tag is part of the key because
    * epoch numbers are per query: a replacement job with a fresh
    * checkpoint restarts at epoch 0, and a ledger keyed on the bare
    * number would silently swallow its first batches as "replays" of
    * the previous query's epochs. Manifests written before the query
    * tag existed parse with tag "" and are matched as wildcards (any
    * query), preserving replay protection across an upgrade at the
    * cost of the legacy generations' cross-query ambiguity. Batch
    * commits carry no tag and are never replayed. */
  private[sources] def committedEpochs(dir: String,
      conf: org.apache.hadoop.conf.Configuration): Set[(Long, String)] =
    genVersions(dir, conf).flatMap(epochOfGen(dir, _, conf)).toSet

  /** Filesystem- and tag-safe form of a streaming query id: the id
    * rides generation-manifest first lines and plain-directory file
    * names, so it is reduced to letters/digits/dashes (a UUID passes
    * through unchanged); empty ids — direct harness use — normalize
    * to a fixed token so same-caller replays still match. */
  private[sources] def queryTag(id: String): String = {
    val t = Option(id).getOrElse("")
      .filter(c => c.isLetterOrDigit || c == '-')
    if (t.isEmpty) "adhoc" else t
  }

  /** The `#epoch:<E>[:<query>]` tag of one generation manifest, if it
    * carries one — ("" query = pre-tag legacy manifest). A manifest's
    * first line is immutable once its publish lands, so a
    * generation's answer here never changes — which is what lets
    * [[GlStreamingWrite]] cache it per generation instead of
    * re-reading every manifest on every epoch commit. */
  private[sources] def epochOfGen(dir: String, n: Int,
      conf: org.apache.hadoop.conf.Configuration): Option[(Long, String)] = {
    GlMetrics.epochTagReads.incrementAndGet()
    val p = genPath(dir, n)
    val fs = p.getFileSystem(conf)
    val br = new BufferedReader(new InputStreamReader(fs.open(p), UTF_8))
    try Option(br.readLine()).filter(_.startsWith("#epoch:"))
      .flatMap { line =>
        val body = line.stripPrefix("#epoch:")
        val (e, q) = body.indexOf(':') match {
          case -1 => (body, "")
          case i => (body.substring(0, i), body.substring(i + 1))
        }
        e.toLongOption.map((_, q))
      }
    finally br.close()
  }

  /** Task commit messages, one [[GlCommitted]] per file (a fan-out
    * task, [[GlFanOutWriter]], reports a [[GlMultiCommitted]]; failed tasks
    * leave null slots). */
  private[sources] def committedFiles(
      messages: Array[WriterCommitMessage]): Seq[GlCommitted] =
    messages.toSeq.flatMap {
      case m: GlMultiCommitted => m.msgs
      case c: GlCommitted => Seq(c)
      case _ => Nil
    }

  /** Drops the staged bytes of a commit that will not publish (job or
    * epoch abort, a replayed epoch): nothing was renamed, so the
    * reader-visible directory was never touched. */
  private[sources] def discardStaged(dir: String,
      messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(dir)
      .getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
    committedFiles(messages).foreach {
      case GlCommitted(Some(s), _, _) => fs.delete(new Path(s), false)
      case _ => ()
    }
  }

  /** Whether `name` is a versioned commit's `<base>-g<N>.gl` name. */
  private def hasGenSuffix(name: String): Boolean =
    name.stripSuffix(Ext).matches(".*-g\\d+")

  /** The one commit protocol every graftlines write ends in: batch
    * append and overwrite ([[GlWrite]]), row-level COW replace
    * ([[GlReplaceWrite]]), streaming epochs ([[GlStreamingWrite]]) and
    * [[compact]]. Task writers stage under dot-prefixed `.staging`
    * names no listing sees; this driver-side step makes them live.
    * Until it runs readers see the directory exactly as the previous
    * commit left it. `replaces` names the live files the commit
    * supersedes; `epoch` tags a streaming commit; `pinnedGen` fixes
    * the generation number (compact publishes at the generation its
    * rewrite read plus one, so a commit that landed meanwhile fails
    * the CAS instead of being dropped from the compacted version);
    * `known` is the caller's [[gensOf]], so a caller that already
    * listed the generations (the streaming ledger) does not list twice.
    *
    *  - **Versioned table**: staged files land under `-g<N>` suffixed
    *    names, unique forever, so no commit rewrites a committed
    *    version's bytes. Generation N lists the carried files (the
    *    last generation, or the directory listing when the marker was
    *    added to a directory with files, less `-g<N>` names: those are
    *    a crashed versioned commit's orphans, never pre-versioning
    *    files) minus `replaces`, plus the
    *    new files, and is published through [[writeGen]], the commit's
    *    compare-and-swap. Nothing is deleted: older generations stay
    *    readable, with their stats lines, until [[expireVersions]]. A
    *    target that already exists means two committers computed the
    *    same N and fails the commit, except under an epoch, where it
    *    is a crashed attempt's unreferenced orphan and is replaced. A
    *    commit that fails after its renames leaves files no generation
    *    lists; `expireVersions(gcOrphans = true)` reclaims them.
    *  - **Plain directory**: staged files are renamed to their final
    *    names (an existing target is replaced), then the replaced files
    *    are deleted, and on overwrite every other `.staging` file (debris
    *    of jobs that died without abort). Renames go FIRST so that a
    *    crash or a failed delete can leave superseded rows visible next
    *    to their replacements, but can never lose rows. A delete that
    *    reports false while the file is still there fails the commit,
    *    before the stats merge: duplicated rows are never silent.
    *
    * Last, the tasks' stats lines are re-keyed to the final names and
    * merged into `_graft_stats` ([[mergeStats]], best-effort). The
    * rename loop is atomic per file, not across files: two jobs
    * racing one plain directory still need the catalog on top.
    * Returns the published generation on a versioned table. */
  private[sources] def publish(dir: String,
      conf: org.apache.hadoop.conf.Configuration, msgs: Seq[GlCommitted],
      replaces: GlReplace, epoch: Option[(Long, String)] = None,
      pinnedGen: Option[Int] = None,
      known: Option[GlGens] = None): Option[Int] = {
    val fs = new Path(dir).getFileSystem(conf)
    val GlGens(gens, versioned) = known.getOrElse(gensOf(dir, conf))
    val next = pinnedGen.getOrElse(gens.lastOption.getOrElse(0) + 1)
    val wipe = replaces == GlReplace.All
    // listed before any rename, so this commit's own files are not in it
    lazy val listed = listDataFiles(dir, conf).map(new Path(_).getName)
    val (carried, doomed) = replaces match {
      case _ if versioned && wipe => (Nil, Nil)
      case GlReplace.Files(names) if versioned =>
        (gens.lastOption.map(readGen(dir, _, conf))
          .getOrElse(listed.filterNot(hasGenSuffix)).filterNot(names), Nil)
      case GlReplace.Files(names) => (Nil, names.toSeq)
      case _ => (Nil, listed)
    }
    val published = msgs.collect {
      case GlCommitted(Some(s), Some(f), lines) =>
        val fp = new Path(f)
        val dst = if (!versioned) fp
          else new Path(fp.getParent, genName(fp.getName, next))
        if (fs.exists(dst)) {
          require(!versioned || epoch.nonEmpty,
            s"graftlines: commit target $dst already exists — concurrent " +
              "committers race on the generation number; serialize " +
              "writers through the catalog")
          fs.delete(dst, false)
        }
        require(fs.rename(new Path(s), dst),
          s"graftlines: commit failed renaming $s -> $dst")
        (dst.getName, lines)
    }
    val newNames = published.map(_._1)
    if (versioned)
      writeGen(dir, next, (carried ++ newNames).distinct, conf, epoch)
    val failed = doomed.filterNot(newNames.toSet)
      .filterNot(n => removed(fs, new Path(dir, n)))
    require(failed.isEmpty,
      s"graftlines: commit could not delete ${failed.size} replaced " +
        s"file(s) (${failed.take(3).mkString(", ")}…) — their rows " +
        "are still visible next to the new files")
    val plainWipe = wipe && !versioned
    if (plainWipe)
      fs.listStatus(new Path(dir))
        .filter(st => st.isFile && st.getPath.getName.endsWith(".staging"))
        .foreach(st => fs.delete(st.getPath, false))
    val newLines = published.flatMap { case (n, ls) => ls.map(l => s"$n\t$l") }
    if (newLines.nonEmpty || doomed.nonEmpty || plainWipe)
      mergeStats(dir, conf, newNames.toSet ++ doomed, newLines,
        replaceAll = plainWipe)
    if (versioned) Some(next) else None
  }

  /** Publishes generation `n` create-once ([[GlMetaFile]]), the
    * commit's compare-and-swap: two committers that both computed `n`
    * would otherwise last-writer-win, and since data file names are
    * job-unique the manifest is the one place the race surfaces. Unlike
    * stats, a failed publish fails the commit: the manifest is what a
    * versioned read returns. With
    * `graft.lines.commit.coordinator=jdbc` the staged manifest goes to
    * [[GlCommitCoordinator.publish]] instead, whose claims table is the
    * CAS on stores without an atomic no-clobber primitive. */
  private[sources] def writeGen(dir: String, n: Int, baseNames: Seq[String],
      conf: org.apache.hadoop.conf.Configuration,
      epoch: Option[(Long, String)] = None): Unit = {
    val p = genPath(dir, n)
    val fs = p.getFileSystem(conf)
    def raced = new IllegalArgumentException(
      s"graftlines: generation manifest $p already exists — concurrent " +
        "committers race on the generation number; serialize writers " +
        "through the catalog")
    if (fs.exists(p)) throw raced
    // resolve the committer's mode and cross-check the TABLE's pin
    // before any staging I/O: an fs-mode committer on an arbitrated
    // table must fail loudly here, not silently race the claims CAS
    // through the filesystem (the first arbitrated commit brands the
    // table; see GlCommitCoordinator.ArbiterMarker)
    val arbiter = GlCommitCoordinator.forConf(conf)
    GlCommitCoordinator.enforceTableMode(fs, dir, arbiter.isDefined)
    val lines = epoch.map { case (e, q) => s"#epoch:$e:$q" }.toSeq ++
      baseNames.sorted
    try GlMetaFile.createOnce(fs, p, lines,
      arbiter.map(a => (tmp: Path) => a.publish(fs, dir, n, tmp, p)))
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => throw raced
    }
  }

  /** Checked delete: true once `p` is gone. A store may report false
    * with the file still in place; every path that deletes rows treats
    * that as a failure, never as done. */
  private def removed(fs: org.apache.hadoop.fs.FileSystem, p: Path): Boolean =
    fs.delete(p, false) || !fs.exists(p)

  /** The one answer to "which files make up this read": the live
    * `(path, length)` of version `versionAsOf` (latest when None), minus
    * every file generation `excludeFilesOf` lists. Batch, keyed,
    * row-level and change-feed scans ([[GlScan]]), the micro-batch
    * stream, schema inference, [[compact]] and [[refreshStats]] all
    * resolve here. A directory without generations is its listing.
    *
    * The exclusion is the change feed: versioned names are never
    * reused across generations (see [[VersionMarker]]), so a base name
    * both manifests list holds the same bytes in both versions, and
    * version v minus generation m's files is exactly what v added. A
    * streaming micro-batch over offsets (s, e] is that delta with
    * v = e and m = s ([[GlMicroBatchStream]]); a generation a retention
    * sweep expired fails the read when its manifest is opened.
    *
    * A gen-listed file missing from disk is loss (a manual delete or
    * an over-eager retention sweep): fail loudly, never return a
    * partial version. */
  private[sources] def resolveDataFileStatuses(dir: String,
      conf: org.apache.hadoop.conf.Configuration,
      versionAsOf: Option[Int],
      excludeFilesOf: Option[Int] = None): Seq[(String, Long)] = {
    val gens = genVersions(dir, conf)
    val files = if (gens.isEmpty) {
      require(versionAsOf.isEmpty,
        s"graftlines: VERSION AS OF ${versionAsOf.getOrElse(-1)} on " +
          s"$dir, which has no committed generations")
      listDataFileStatuses(dir, conf)
    } else {
      val target = versionAsOf.getOrElse(gens.max)
      require(gens.contains(target),
        s"graftlines: no generation $target under $dir " +
          s"(committed: ${gens.mkString(", ")})")
      val wanted = readGen(dir, target, conf).toSet
      val present = listDataFileStatuses(dir, conf)
        .filter { case (f, _) => wanted.contains(new Path(f).getName) }
      val missing = wanted -- present.map { case (f, _) =>
        new Path(f).getName }
      require(missing.isEmpty,
        s"graftlines: generation $target of $dir lists missing file(s) " +
          s"${missing.toSeq.sorted.mkString(", ")} — history was deleted " +
          "outside expireVersions")
      present
    }
    excludeFilesOf.fold(files) { m =>
      val excl = readGen(dir, m, conf).toSet
      files.filterNot { case (f, _) => excl.contains(new Path(f).getName) }
    }
  }

  /** A read's version options, parsed once for batch reads (
    * [[GlTable.newScanBuilder]]), schema inference and the stream:
    * (the generation to read, the generation whose files to exclude).
    * The first is `versionAsOf` (an integer) or `timestampAsOf`
    * (epoch-ms, ISO instant or SQL timestamp, resolved by
    * [[genAtTimestamp]]); None reads the latest, and inference types a
    * read by the version it scans.
    *
    * The second is `excludeFilesOfVersion`, the CHANGE-FEED read: the
    * read version minus generation m's files (the delta of
    * [[resolveDataFileStatuses]]). "What changed between v1 and v3" is
    * then two SMALL scans (v3 minus v1-files, v1 minus v3-files) + one
    * anti-join each, independent of table size and of how many commits
    * lie between. Equivalence precondition (stated, not enforced): the
    * two-sided EXCEPT over delta reads equals the EXCEPT over full
    * version scans iff no full row VALUE is duplicated across a common
    * file and a differing file of the same version — e.g. a row living
    * in untouched file C and also in rewritten file F would surface as
    * a spurious delete when F drops it, because the common file that
    * still holds it was (correctly) never scanned. Keyed/deduplicated
    * tables satisfy this by construction (each row value lives in
    * exactly one file per version); for multiset tables the delta read
    * is still exactly "the rows of the files that changed" — a
    * well-defined feed on its own — but not an EXCEPT replacement. */
  private[sources] def requestedVersion(dir: String,
      options: CaseInsensitiveStringMap): (Option[Int], Option[Int]) = {
    def conf = SparkSession.active.sparkContext.hadoopConfiguration
    def int(name: String): Option[Int] = Option(options.get(name)).map { s =>
      require(s.toIntOption.isDefined,
        s"graftlines: $name must be an integer, got '$s'")
      s.toInt
    }
    val v = int("versionAsOf")
    val t = Option(options.get("timestampAsOf"))
    require(v.isEmpty || t.isEmpty,
      "graftlines: versionAsOf and timestampAsOf are mutually exclusive")
    val version = v.orElse(t.map { s =>
      val ms = s.toLongOption.getOrElse {
        try java.time.Instant.parse(s).toEpochMilli
        catch { case _: java.time.format.DateTimeParseException =>
          java.sql.Timestamp.valueOf(s).getTime
        }
      }
      genAtTimestamp(dir, ms, conf)
    })
    val excluded = int("excludeFilesOfVersion").map { m =>
      val gens = genVersions(dir, conf)
      require(gens.contains(m),
        s"graftlines: excludeFilesOfVersion $m on $dir " +
          s"(committed generations: ${gens.mkString(", ")})")
      m
    }
    (version, excluded)
  }

  /** `TIMESTAMP AS OF` resolution: the newest generation whose
    * manifest was PUBLISHED at or before the target instant — commit
    * time is the generation manifest's filesystem mtime, stamped as
    * its staged copy is written just before the publish that made the
    * version visible (the same
    * convention Delta reads from its log entries' timestamps). Honest
    * limits, stated: mtimes come from the storage system's clock, and
    * copying a table byte-for-byte refreshes them — version numbers
    * are the durable coordinate, timestamps the human-friendly one
    * (which is why the CONTRACT queries pin versions and this path is
    * spec-gated). A target before the first commit fails loudly. */
  private[sources] def genAtTimestamp(dir: String, targetMs: Long,
      conf: org.apache.hadoop.conf.Configuration): Int = {
    val fs = new Path(dir).getFileSystem(conf)
    val stamped = genVersions(dir, conf)
      .map(n => (n, fs.getFileStatus(genPath(dir, n)).getModificationTime))
    require(stamped.nonEmpty,
      s"graftlines: TIMESTAMP AS OF on $dir, which has no committed " +
        "generations")
    val at = stamped.filter(_._2 <= targetMs)
    require(at.nonEmpty,
      s"graftlines: no generation of $dir existed at epoch-ms $targetMs " +
        s"(earliest commit: ${stamped.head._2})")
    at.map(_._1).max
  }

  /** Retention sweep for versioned tables: keep the newest `keepLast`
    * generations, delete older generation manifests and every data
    * file no RETAINED generation references, and drop the dead files'
    * stats lines. All O(files) driver metadata — data never moves.
    *
    * `gcOrphans` (default OFF) additionally reclaims files NO
    * generation ever referenced — the leftovers a failed commit leaves
    * after its data renames but before its manifest publish — so
    * `expireVersions(dir, keepLast >= generations, gcOrphans = true)`
    * doubles as an orphan-only GC. Opt-in because it changes the
    * safety contract visibly at the call site: without it a call with
    * `keepLast >= generations` is a guaranteed no-op, with it an
    * IN-FLIGHT commit's renamed-but-not-yet-manifested files look
    * exactly like orphans and would be swept. Either way the sweep
    * must not run concurrently with a committer (maintenance is a
    * table-quiet operation, like vacuum everywhere) — the flag just
    * keeps the no-expiry call harmless for callers who treat it so.
    * Returns (expired generations, deleted data files). */
  def expireVersions(dir: String, keepLast: Int,
      conf: org.apache.hadoop.conf.Configuration,
      gcOrphans: Boolean = false): (Seq[Int], Seq[String]) = {
    require(keepLast >= 1, "expireVersions must keep at least one generation")
    val fs = new Path(dir).getFileSystem(conf)
    val gens = genVersions(dir, conf)
    // a dir with no generations is NOT a versioned table: treating its
    // directory-listed files as "unreferenced" would delete live data
    if (gens.isEmpty) return (Nil, Nil)
    val (drop, keep) = gens.splitAt(math.max(0, gens.length - keepLast))
    val live = keep.flatMap(readGen(dir, _, conf)).toSet
    val listed = listDataFiles(dir, conf)
    val dead =
      if (gcOrphans) listed.filter(f => !live.contains(new Path(f).getName))
      else {
        // only files an EXPIRING generation referenced: never-manifested
        // files stay untouched unless the caller opted into orphan GC
        val droppedRefs = drop.flatMap(readGen(dir, _, conf)).toSet
        listed.filter { f =>
          val n = new Path(f).getName
          !live.contains(n) && droppedRefs.contains(n)
        }
      }
    if (drop.isEmpty && dead.isEmpty) return (Nil, Nil)
    // delete results are CHECKED before the manifests go: a silently
    // failed delete (false + file still present) whose referencing
    // manifests were then dropped becomes unreclaimable for a
    // gcOrphans=false caller (no droppedRefs set will ever list it
    // again) while the return value reports it deleted. Failing here
    // keeps every manifest intact, so a rerun recomputes the same
    // dead set and retries; files that DID delete are simply no
    // longer listed.
    val failedDead = dead.filterNot(f => removed(fs, new Path(f)))
    require(failedDead.isEmpty,
      s"graftlines: expireVersions could not delete ${failedDead.size} " +
        s"file(s) (${failedDead.take(3).mkString(", ")}…) — manifests " +
        "kept; rerun after resolving")
    drop.foreach(n => fs.delete(genPath(dir, n), false))
    // arbitrated tables: retire the dropped generations' claim rows on
    // the same schedule as their manifests. The WHOLE step is
    // best-effort — including coordinator resolution: a misconfigured
    // conf (jdbc mode, missing URL) must not turn an expiry that
    // already deleted files into a hard failure that also skips the
    // stats merge below. The rows are audit metadata by now (each
    // dropped generation's manifest was just verified on disk).
    if (drop.nonEmpty)
      try {
        val arb = GlCommitCoordinator.forConf(conf)
        arb.foreach(_.pruneClaims(fs, dir, drop))
        // expiry is read-side housekeeping, so an fs-mode run on an
        // arbitrated table is not the commit hazard the marker blocks —
        // but its claim rows were NOT pruned and would leak silently
        if (arb.isEmpty && fs.exists(
            new Path(dir, GlCommitCoordinator.ArbiterMarker)))
          System.err.println(s"[graftlines] expireVersions: $dir is " +
            "pinned to an arbitrated commit coordinator but this " +
            "expiry ran in fs mode — the dropped generations' claim " +
            "rows were NOT pruned and will leak until an arbitrated " +
            "expiry runs")
      } catch { case e: Exception =>
        // swallowed, but never silently: a typo'd URL or revoked
        // DELETE grant would otherwise leak one claim row per
        // generation forever with nothing anywhere to reveal it
        System.err.println(s"[graftlines] expireVersions: claim-row " +
          s"prune for $dir gens<=${drop.max} failed (expiry itself " +
          s"succeeded): ${e.getMessage}")
      }
    mergeStats(dir, conf,
      dropNames = dead.map(new Path(_).getName).toSet, newLines = Nil)
    (drop, dead)
  }

  /** Small-file compaction (OPTIMIZE). Rewrites the current file set
    * through the table's own [[writerFactory]] in one Spark job over
    * `maxFiles` coalesced tasks, then swaps the result in with one
    * [[publish]] that replaces the pre-compact files. Each task writes
    * through one writer, so an unkeyed table ends with at most
    * `maxFiles` files and a bucketed or identity-partitioned one with
    * at most `maxFiles` single-key files per key: the keyed scan
    * survives. The publish is pinned at the generation the rewrite read
    * plus one, so a commit that lands meanwhile fails the compaction
    * instead of being dropped from it. On a versioned table the
    * fragmented generation stays readable until [[expireVersions]].
    * Returns (files before, files after); no-op when already within
    * budget: at most `maxFiles` files, or on a keyed table at most
    * `maxFiles` files per key with every file proving its key. */
  def compact(dir: String, maxFiles: Int,
      spark: SparkSession): (Int, Int) = {
    require(maxFiles >= 1, "compact must keep at least one file")
    val conf = spark.sparkContext.hadoopConfiguration
    val snapshotGen = currentVersion(dir, conf)
    val before = resolveDataFileStatuses(dir, conf, None).map(_._1)
    val key = GlKey.keyOf(dir, conf)
    // the union of the live files' headers, null-filled: on a
    // schema-evolved table any one header would drop or fail a column.
    // First-appearance order keeps a uniform table's schema as it is.
    lazy val unionSchema = before.foldLeft(new StructType()) { (acc, f) =>
      headerSchemaOfFile(f, conf).fields.foldLeft(acc) { (a, fld) =>
        if (a.fieldNames.contains(fld.name)) a else a.add(fld)
      }
    }
    val withinBudget = before.size <= maxFiles || key.exists { k =>
      lazy val stats = readStats(dir, conf, unionSchema)
      val keys = before.map(f => k.fileKey(new Path(f).getName, stats))
      keys.forall(_.isDefined) &&
        keys.groupBy(identity).values.forall(_.size <= maxFiles)
    }
    if (withinBudget) return (before.size, before.size)
    val factory = writerFactory(dir, unionSchema, key)
    val qe = spark.read.schema(unionSchema).option(NullFillOption, "true")
      .format("graftlines").load(dir).coalesce(maxFiles).queryExecution
    val msgs = scala.collection.mutable.ArrayBuffer.empty[WriterCommitMessage]
    try org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe,
        Some("graftlines compact")) {
      val rows = qe.toRdd
      spark.sparkContext.runJob(rows,
        (ctx: org.apache.spark.TaskContext, it: Iterator[InternalRow]) => {
          val w = factory.createWriter(ctx.partitionId(), ctx.taskAttemptId())
          try { it.foreach(w.write); w.commit() }
          catch { case t: Throwable => w.abort(); throw t }
          finally w.close()
        },
        rows.partitions.indices,
        (_: Int, m: WriterCommitMessage) => msgs += m)
    } catch { case t: Throwable =>
      // the tasks that finished staged files no publish will rename
      discardStaged(dir, msgs.toArray)
      throw t
    }
    val after = committedFiles(msgs.toArray).filter(_.staged.nonEmpty)
    publish(dir, conf, after,
      GlReplace.Files(before.map(new Path(_).getName).toSet),
      pinnedGen = Some(snapshotGen + 1))
    (before.size, after.size)
  }

  /** Stats refresh / back-fill (the ANALYZE TABLE lifecycle op).
    * Recomputes the stats-manifest lines — including the `#len`
    * length cross-check — for every CURRENT data file whose manifest
    * entry is missing or not verifiably fresh (`#len` absent or not
    * equal to the live length). Manifests written before the `#len`
    * line existed permanently lose the exact-numRows planner hint and
    * the COUNT(*)-from-manifest shortcut (results stay correct via the
    * scan fallback — a silent performance degradation, not a
    * correctness one); this op restores the fast path WITHOUT
    * rewriting any data file.
    *
    * Honesty note: the back-fill RE-COUNTS each stale file by reading
    * it (a distributed Spark job, one task per file — never through
    * the driver). Simply stamping the live length next to the OLD
    * recorded row count would bless a possibly-stale count as exact —
    * the precise failure `#len` exists to prevent.
    *
    * Fresh files are untouched. Returns (files examined, files
    * refreshed). */
  def refreshStats(dir: String, spark: SparkSession): (Int, Int) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = resolveDataFileStatuses(dir, conf, None)
    if (files.isEmpty) return (0, 0)
    // freshness needs only the `#len` lines, which parse under any schema
    val stats = readStats(dir, conf, new StructType())
    val stale = files.filter { case (f, len) =>
      !stats.get(new Path(f).getName).exists(_.fileLen.contains(len))
    }
    if (stale.isEmpty) return (files.size, 0)
    val sconf = new SerializableConfiguration(conf)
    // Each file is recounted against ITS OWN header schema — exactly
    // what GlWriter recorded when the file landed, so the refreshed
    // lines are writer-parity by construction. Using one table-level
    // schema here would be wrong on a schema-evolved table: whichever
    // file happened to sort first would dictate the column set, and a
    // column it lacks (ALTER TABLE ADD after it was written) would
    // silently lose its recorded stats on every OTHER file — a
    // file-order-dependent pruning regression. Per-file schemas also
    // make nullFillMissing moot: nothing in a file's own header can be
    // missing from that file.
    val lines = spark.sparkContext
      .parallelize(stale, math.min(stale.size, 64))
      .flatMap { case (f, len) =>
        val base = new Path(f).getName
        val fileSchema = headerSchemaOfFile(f, sconf.value)
        val acc = new GlStatsAcc(fileSchema)
        val r = new GlReader(f, fileSchema, fileSchema, Array.empty, None,
          sconf.value)
        try { while (r.next()) acc.add(r.get()) } finally r.close()
        acc.lines(len).map(l => s"$base\t$l")
      }.collect().toSeq
    mergeStats(dir, conf,
      dropNames = stale.map { case (f, _) => new Path(f).getName }.toSet,
      newLines = lines)
    (files.size, stale.size)
  }

  private[sources] def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "graftlines requires a path")
    p
  }

  /** One FILE's own header schema — executor-safe (takes the Hadoop
    * conf explicitly instead of reaching for SparkSession.active).
    * The authority for what THAT file stores; see [[refreshStats]]. */
  private[sources] def headerSchemaOfFile(file: String,
      conf: org.apache.hadoop.conf.Configuration): StructType = {
    val p = new Path(file)
    val in = p.getFileSystem(conf).open(p)
    val br = new BufferedReader(new InputStreamReader(in, UTF_8))
    try parseHeader(br.readLine(), file) finally br.close()
  }

  /** The catalog's authoritative schema for `dir` when its
    * `_graft_schema` is present, else None. Only a clean not-found
    * maps to None — a transient store error must propagate rather
    * than silently flipping the read's null-fill semantics between
    * retries. */
  private[sources] def catalogSchemaOf(dir: String): Option[StructType] = {
    if (dir == null) return None
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val sf = new Path(dir, GraftCatalog.SchemaName)
    val fs = sf.getFileSystem(conf)
    val exists =
      try fs.exists(sf)
      catch { case _: java.io.FileNotFoundException => false }
    if (exists) Some(GraftCatalog.readSchemaFile(fs, sf)) else None
  }

  /** Directory schema for path-based reads: the catalog's
    * `_graft_schema` when present (the AUTHORITY on an evolved table —
    * per-file headers legitimately disagree with each other after
    * ALTER ADD COLUMNS, and which one header-inference would pick is
    * an accident of file naming), else the header of version
    * `versionAsOf` ([[readHeaderSchema]]). */
  private[sources] def readDirSchema(dir: String,
      versionAsOf: Option[Int] = None): StructType =
    catalogSchemaOf(dir).getOrElse(readHeaderSchema(dir, versionAsOf))

  /** The header of the first live file of version `versionAsOf`
    * (latest when None), resolved like the scan's own files
    * ([[resolveDataFileStatuses]]): an overwrite that changed the
    * schema leaves superseded files on disk, and their header must not
    * type the live ones. A version that lists no file (an empty
    * overwrite) takes the first header on disk; its scan plans no file
    * and reads 0 rows whatever the schema. */
  private[sources] def readHeaderSchema(dir: String,
      versionAsOf: Option[Int]): StructType = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val live = resolveDataFileStatuses(dir, conf, versionAsOf).map(_._1)
    val files = if (live.nonEmpty) live else listDataFiles(dir, conf)
    require(files.nonEmpty, s"graftlines: no $Ext files under $dir")
    // a retention sweep racing this read may delete a listed file
    // before it is opened: the next header is the schema
    val headers = files.iterator.flatMap { f =>
      try Some(headerSchemaOfFile(f, conf))
      catch { case _: java.io.FileNotFoundException => None }
    }
    require(headers.hasNext, s"graftlines: no $Ext files left under $dir")
    headers.next()
  }

  private[sources] def listDataFiles(
      dir: String, conf: org.apache.hadoop.conf.Configuration): Seq[String] =
    listDataFileStatuses(dir, conf).map(_._1)

  /** (path, length) per data file — lengths feed block splitting at
    * plan time, from the same single directory listing. */
  private[sources] def listDataFileStatuses(
      dir: String,
      conf: org.apache.hadoop.conf.Configuration): Seq[(String, Long)] = {
    val path = new Path(dir)
    val fs = path.getFileSystem(conf)
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(Ext)
        && st.getLen > 0)
      .map(st => (st.getPath.toString, st.getLen)).sortBy(_._1)
  }

  /** The byte ranges `[start, end)` every reader plans for one file of
    * `len` bytes: the whole file, `(0, Long.MaxValue)`, when it fits in
    * `spark.sql.files.maxPartitionBytes`, else blocks of that size. */
  private[sources] def splits(len: Long): Seq[(Long, Long)] = {
    val size = math.max(1L,
      SparkSession.active.sessionState.conf.filesMaxPartitionBytes)
    if (len <= size) Seq((0L, Long.MaxValue))
    else (0L until len by size).map(s => (s, math.min(s + size, len)))
  }

  private[sources] def typeToken(dt: DataType): String = dt match {
    case IntegerType => "int"
    case LongType => "long"
    case DoubleType => "double"
    case StringType => "string"
    case BooleanType => "bool"
    case DateType => "date"
    case TimestampType => "ts"
    case other => throw new IllegalArgumentException(
      s"graftlines cannot store type ${other.catalogString}")
  }

  private[sources] def tokenType(tok: String, where: String): DataType =
    tok match {
      case "int" => IntegerType
      case "long" => LongType
      case "double" => DoubleType
      case "string" => StringType
      case "bool" => BooleanType
      case "date" => DateType
      case "ts" => TimestampType
      case other => throw new IllegalArgumentException(
        s"graftlines: unknown type token '$other' in $where")
    }

  private[sources] def header(schema: StructType): String = {
    require(!schema.fieldNames.contains(FileCol),
      s"graftlines: '$FileCol' is the reserved metadata column name")
    // the header is a raw tab-separated line: a name holding a tab /
    // newline / CR would COMMIT a table no parseHeader can ever read
    // back — reject before any task launches, not at first read.
    // (Colons are fine: parseHeader splits on the LAST colon.)
    schema.fieldNames.foreach { n =>
      require(n.nonEmpty && !n.exists(c => c == '\t' || c == '\n'
          || c == '\r'),
        s"graftlines: column name ${n.replace("\t", "\\t")
          .replace("\n", "\\n").replace("\r", "\\r")} is empty or " +
          "contains a tab/newline/CR — unstorable in the header line")
      // '#'-prefixed names are reserved for stats-line markers: a user
      // column literally named '#len' would have its ordinary min/max
      // stats line parsed as the length cross-check (bogus fileLen,
      // dropped pruning stats), and a String '#len' Bloom line is
      // ambiguous. Reserve the whole prefix, mirroring FileCol — and
      // future markers then never collide with committed tables.
      require(!n.startsWith("#"),
        s"graftlines: column name '$n' — names starting with '#' are " +
          "reserved for stats-manifest markers")
    }
    schema.fields.map(f => s"${f.name}:${typeToken(f.dataType)}")
      .mkString("\t")
  }

  private[sources] def parseHeader(line: String, where: String): StructType = {
    require(line != null && line.nonEmpty, s"graftlines: empty header in $where")
    StructType(line.split('\t').toIndexedSeq.map { cell =>
      val i = cell.lastIndexOf(':')
      require(i > 0, s"graftlines: bad header cell '$cell' in $where")
      StructField(cell.substring(0, i),
        tokenType(cell.substring(i + 1), where))
    })
  }

  /** Escapes are what make raw split-on-tab / split-on-newline exact:
    * a data field never contains a literal tab, newline, CR or lone
    * backslash. `\N` as the ENTIRE field means NULL (any type). */
  private[sources] def escape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\\' => sb.append("\\\\")
        case '\t' => sb.append("\\t")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  private[sources] def unescape(s: String): String = {
    if (s.indexOf('\\') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '\\' => sb.append('\\'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'n' => sb.append('\n'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case other => sb.append(c).append(other); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Parse one field to its Catalyst internal value: boxed primitives
    * (int for dates, long for timestamps), a fresh [[UTF8String]] for
    * strings, null for `\N`. [[GlReader]] puts it in its row slot;
    * `_graft_stats` min/max use it for the stats-eligible types. */
  private[sources] def parseCell(raw: String, dt: DataType): Any = {
    if (raw == "\\N") return null
    dt match {
      case IntegerType | DateType => java.lang.Integer.valueOf(raw)
      case LongType | TimestampType => java.lang.Long.valueOf(raw)
      case DoubleType => java.lang.Double.valueOf(raw)
      case BooleanType => java.lang.Boolean.valueOf(raw)
      case StringType => UTF8String.fromString(unescape(raw))
      case other => throw new IllegalStateException(other.toString)
    }
  }

  /** Columns whose min/max may steer file skipping: exactly the types
    * [[GlFilters.mayMatch]] compares in Spark's own order. Strings are
    * EXCLUDED on the same ground min/max string aggregates are declined
    * — java UTF-16 order vs Spark UTF8-byte order diverge on
    * supplementary characters, and a wrong skip is silent data loss,
    * not a perf bug. Date/timestamp
    * literals never push (GlFilters declines them), so their stats
    * would be dead weight. */
  private[sources] def statsEligible(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | DoubleType | BooleanType => true
    case _ => false
  }

  private[sources] def statsPath(dir: String) = new Path(dir, StatsName)

  /** Manifest maintenance shared by job commit and DELETE: drop every
    * line whose file is in `dropNames`, append `newLines` (already
    * base-name-prefixed), `replaceAll` discards the old manifest
    * entirely. The rewrite publishes through [[GlMetaFile.replace]],
    * then deletes the `_graft_stats.*.tmp` files it superseded (the
    * stats invariant in [[GlMetaFile]]). Failures are swallowed — stats
    * are an optimization and must never fail a committed mutation; a
    * manifest a failed publish left absent reads as "no stats", the
    * designed fallback, never a wrong skip. */
  private[sources] def mergeStats(dir: String,
      conf: org.apache.hadoop.conf.Configuration,
      dropNames: Set[String], newLines: Seq[String],
      replaceAll: Boolean = false): Unit = {
    try {
      val p = statsPath(dir)
      val fs = p.getFileSystem(conf)
      val existing: Seq[String] =
        if (replaceAll || !fs.exists(p)) Nil
        else {
          val br = new BufferedReader(new InputStreamReader(fs.open(p), UTF_8))
          try Iterator.continually(br.readLine()).takeWhile(_ != null)
            .toList.filterNot(l => dropNames.contains(l.takeWhile(_ != '\t')))
          finally br.close()
        }
      // listed before this publish stages its own tmp
      val debris = fs.globStatus(new Path(dir, s"$StatsName.*.tmp"))
      if (existing.isEmpty && newLines.isEmpty) fs.delete(p, false)
      else GlMetaFile.replace(fs, p, existing ++ newLines)
      debris.foreach(st => fs.delete(st.getPath, false))
    } catch { case _: Exception => () }
  }

  /** Manifest read at plan time: baseName -> (rows, col -> (nulls, min,
    * max)); min/max already parsed to comparison values (null = column
    * all-NULL in that file). A missing/corrupt manifest means "no
    * stats" — skipping is an optimization and must never be load-
    * bearing, so any read problem degrades to scanning every file. */
  private[sources] def readStats(dir: String,
      conf: org.apache.hadoop.conf.Configuration,
      schema: StructType): Map[String, GlFileStats] = {
    val p = statsPath(dir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return Map.empty
    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    val br = new BufferedReader(new InputStreamReader(fs.open(p), UTF_8))
    try {
      val byFile = scala.collection.mutable.Map[String, GlFileStats]()
      var line = br.readLine()
      while (line != null) {
        // per-LINE degradation: a line that passes the sentinel check
        // but still fails to parse (e.g. a non-numeric rows field)
        // drops ONLY itself — discarding the whole map here would
        // disable pruning/manifest-counts table-wide over one damaged
        // line, the opposite of the degrade-per-line design
        try line.split("\t", -1) match {
          case Array(file, rows, col, nulls, GlBloom.Marker, hex,
              StatsSentinel) if types.get(col).contains(StringType) =>
            // string-equality Bloom line (min slot carries the marker;
            // an older reader sees a not-stats-eligible column and
            // skips it). Damaged hex decodes to None -> no bloom, scan.
            // The null count on the line feeds Is[Not]Null pruning for
            // strings — the one stats use that needs no ordering.
            GlBloom.decode(hex).foreach { bits =>
              val st = byFile.getOrElseUpdate(file,
                GlFileStats(rows.toLong,
                  scala.collection.mutable.Map.empty))
              st.blooms(col) = bits
              st.strNulls(col) = nulls.toLong
            }
          case Array(file, rows, StatsLenMarker, _, len, _, StatsSentinel) =>
            // per-file byte-length cross-check line (see StatsLenMarker)
            val st = byFile.getOrElseUpdate(file,
              GlFileStats(rows.toLong,
                scala.collection.mutable.Map.empty))
            st.fileLen = Some(len.toLong)
          case Array(file, rows, col, nulls, mn, mx, StatsSentinel) =>
            types.get(col).filter(statsEligible).foreach { dt =>
              val st = byFile.getOrElseUpdate(file,
                GlFileStats(rows.toLong,
                  scala.collection.mutable.Map.empty))
              st.cols(col) = GlColStats(nulls.toLong,
                parseCell(mn, dt), parseCell(mx, dt))
            }
          // truncated (sentinel missing/cut) or unknown line shape:
          // ignore the line, never fail or mis-skip the scan
          case _ => ()
        } catch { case _: Exception => () }
        line = br.readLine()
      }
      byFile.toMap
    } catch { case _: Exception => Map.empty }
    finally br.close()
  }
}

/** Driver-side metadata-I/O counters (process-wide, monotonically
  * increasing — read a delta around the operation you care about).
  * The first customer is the streaming sink's committed-epoch ledger:
  * `epochTagReads` counts `#epoch:` manifest opens, which a
  * long-running stream must keep at O(new generations) per commit —
  * the soak test pins that claim with numbers instead of trusting the
  * cache's comment. */
private[sources] object GlMetrics {
  val epochTagReads = new java.util.concurrent.atomic.AtomicLong
}

private[sources] case class GlColStats(nulls: Long, min: Any, max: Any)
private[sources] case class GlFileStats(rows: Long,
    cols: scala.collection.mutable.Map[String, GlColStats],
    blooms: scala.collection.mutable.Map[String, Array[Long]] =
      scala.collection.mutable.Map.empty,
    strNulls: scala.collection.mutable.Map[String, Long] =
      scala.collection.mutable.Map.empty) {
  /** Byte length recorded on the file's `#len` stats line, if present.
    * Consumers that treat `rows` as EXACT (manifest COUNT(*), exact
    * planner numRows) must require this to equal the live
    * FileStatus length — a mismatch means the file was rewritten in
    * place and the best-effort stats merge did not land. */
  var fileLen: Option[Long] = None
}

/** Per-(file, string-column) Bloom filter riding the `_graft_stats`
  * manifest — equality file skipping for the one type family min/max
  * pruning deliberately declines (string ORDER is the UTF-16 vs UTF8
  * hazard; membership hashing has no order to get wrong). 8192 bits /
  * 4 probes ⇒ ~2% false positives at 1000 distinct values per file,
  * and a false positive only costs a scan — a Bloom "absent" answer is
  * exact, so skipping on it never loses rows. Line shape reuses the
  * 7-field stats format with the literal `bloomv1` in the min slot: a
  * pre-Bloom reader pattern-matches the same arity, finds the column
  * not stats-eligible, and ignores the line — forward/backward
  * compatible by construction. A truncated hex payload fails the
  * length gate in [[decode]] and degrades to scanning, same contract
  * as every other damaged manifest line. */
private[sources] object GlBloom {
  val Marker = "bloomv1"
  val NumBits = 8192
  val NumLongs: Int = NumBits / 64
  val NumHashes = 4

  /** Double hashing (h1 + i·h2 mod m) over the raw UTF-8 bytes — the
    * same value the reader's pushed-filter compare sees, BEFORE cell
    * escaping. */
  private def probes(s: String): Array[Int] = {
    val bytes = s.getBytes(UTF_8)
    val h1 = scala.util.hashing.MurmurHash3.bytesHash(bytes, 0x9747b28c)
    val h2 = scala.util.hashing.MurmurHash3.bytesHash(bytes, 0x85ebca6b)
    Array.tabulate(NumHashes)(i => math.floorMod(h1 + i * h2, NumBits))
  }

  def add(bits: Array[Long], s: String): Unit =
    probes(s).foreach(b => bits(b >> 6) |= 1L << (b & 63))

  def mayContain(bits: Array[Long], s: String): Boolean =
    probes(s).forall(b => (bits(b >> 6) & (1L << (b & 63))) != 0)

  def encode(bits: Array[Long]): String =
    bits.map(l => f"$l%016x").mkString

  def decode(hex: String): Option[Array[Long]] =
    if (hex.length != NumLongs * 16 ||
      !hex.forall(c => (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f')))
      None
    else Some(Array.tabulate(NumLongs)(i =>
      java.lang.Long.parseUnsignedLong(hex.substring(i * 16, i * 16 + 16),
        16)))
}

/** Which V1 filters the source accepts for pushdown ([[supported]])
  * and how `_graft_stats` prunes files with them ([[mayMatch]]).
  * Accepted ⇒ Spark drops its own copy, so the reader must answer
  * exactly as Spark would: it evaluates the accepted filters with
  * Catalyst's own predicate over the parsed row (see [[GlReader]]).
  * Date/timestamp literals and NaN doubles are declined (residual), so
  * neither the push contract nor stats pruning has to model them.
  */
private[sources] object GlFilters {

  def supported(schema: StructType, f: Filter): Boolean = f match {
    case AlwaysTrue() => true // DELETE without WHERE
    case And(l, r) => supported(schema, l) && supported(schema, r)
    case Or(l, r) => supported(schema, l) && supported(schema, r)
    case Not(c) => supported(schema, c)
    case IsNull(a) => atomic(schema, a)
    case IsNotNull(a) => atomic(schema, a)
    case EqualTo(a, v) => litOk(schema, a, v)
    // <=> is total (never NULL-valued) and exactly expressible in the
    // three-valued evaluator; a null literal means "a IS NULL". NaN
    // literals decline like EqualTo's (Spark's NaN<=>NaN is true,
    // primitive compare semantics differ).
    case EqualNullSafe(a, v) =>
      if (v == null) atomic(schema, a) else litOk(schema, a, v)
    // UTF8String.startsWith: a byte prefix of the UTF-8 encoding
    case StringStartsWith(a, v) => stringCol(schema, a) && v != null
    case GreaterThan(a, v) => litOk(schema, a, v)
    case GreaterThanOrEqual(a, v) => litOk(schema, a, v)
    case LessThan(a, v) => litOk(schema, a, v)
    case LessThanOrEqual(a, v) => litOk(schema, a, v)
    case In(a, vs) => vs.nonEmpty && vs.forall(v => litOk(schema, a, v))
    case _ => false
  }

  private def field(schema: StructType, a: String): Option[StructField] =
    schema.fields.find(_.name == a) // flat schemas only; nested refs decline

  private def stringCol(schema: StructType, a: String): Boolean =
    field(schema, a).exists(_.dataType == StringType)

  private def atomic(schema: StructType, a: String): Boolean =
    field(schema, a).exists(f => f.dataType match {
      case IntegerType | LongType | DoubleType | StringType | BooleanType =>
        true
      case _ => false
    })

  private def litOk(schema: StructType, a: String, v: Any): Boolean =
    atomic(schema, a) && (v match {
      case null => false
      // NaN ordering/equality differs between Spark SQL and plain
      // java compares — decline, Spark keeps the residual. (-0.0 is
      // exact here: cmp uses primitive == first, so -0.0 = 0.0 holds.)
      case d: java.lang.Double => !d.isNaN
      case _: java.lang.Float => false // float col type unsupported anyway
      case _: Number | _: String | _: java.lang.Boolean => true
      case _: UTF8String => true
      case _ => false // dates, timestamps, decimals, binaries: residual
    })

  /** Conservative file-level pruning: true ⇔ the file MAY hold a row
    * matching `f`, judged from per-column (nulls, min, max). Any
    * uncertainty — column missing from the manifest, a Not(...) — must
    * answer true: a kept file only costs time, a wrongly skipped file
    * loses rows. Note And maps to && (a matching row satisfies both
    * sides, so both must be possible) and Or to ||; a column whose
    * min/max are null is all-NULL in the file, so no comparison can
    * match it there. */
  def mayMatch(f: Filter, st: GlFileStats): Boolean = {
    def col(a: String): Option[GlColStats] = st.cols.get(a)
    def rng(a: String)(p: (Any, Any) => Boolean): Boolean =
      col(a).forall(c => c.min != null && p(c.min, c.max))
    // Bloom membership for string equality: "absent" is exact (skip is
    // safe), "present" is a maybe (scan). Columns without a bloom —
    // non-strings, pre-bloom manifests, damaged payloads — answer true.
    def bloom(a: String, v: Any): Boolean = st.blooms.get(a) match {
      case Some(bits) if v != null => GlBloom.mayContain(bits, v.toString)
      case _ => true
    }
    // null counts come from min/max lines for ordered types and from
    // bloom lines for strings; absence anywhere means "don't know"
    def nullsOf(a: String): Option[Long] =
      st.cols.get(a).map(_.nulls).orElse(st.strNulls.get(a))
    f match {
      case And(l, r) => mayMatch(l, st) && mayMatch(r, st)
      case Or(l, r) => mayMatch(l, st) || mayMatch(r, st)
      case Not(_) => true
      case IsNull(a) => nullsOf(a).forall(_ > 0)
      case IsNotNull(a) => nullsOf(a).forall(st.rows > _)
      case EqualTo(a, v) =>
        rng(a)((mn, mx) => cmp(mn, v) <= 0 && cmp(mx, v) >= 0) &&
          bloom(a, v)
      case EqualNullSafe(a, null) => nullsOf(a).forall(_ > 0)
      case EqualNullSafe(a, v) =>
        rng(a)((mn, mx) => cmp(mn, v) <= 0 && cmp(mx, v) >= 0) &&
          bloom(a, v)
      // strings carry Bloom + null-count lines, not ordered min/max,
      // so a prefix predicate cannot prune on range; scan (exact
      // residual-free evaluation still happens row-side)
      case GreaterThan(a, v) => rng(a)((_, mx) => cmp(mx, v) > 0)
      case GreaterThanOrEqual(a, v) => rng(a)((_, mx) => cmp(mx, v) >= 0)
      case LessThan(a, v) => rng(a)((mn, _) => cmp(mn, v) < 0)
      case LessThanOrEqual(a, v) => rng(a)((mn, _) => cmp(mn, v) <= 0)
      case In(a, vs) => rng(a)((mn, mx) =>
        vs.exists(v => cmp(mn, v) <= 0 && cmp(mx, v) >= 0)) &&
        vs.exists(bloom(a, _))
      case _ => true
    }
  }

  private def cmp(colVal: Any, lit: Any): Int = colVal match {
    case i: java.lang.Integer =>
      java.lang.Long.compare(i.longValue(), num(lit).longValue())
    case l: java.lang.Long =>
      java.lang.Long.compare(l.longValue(), num(lit).longValue())
    case d: java.lang.Double =>
      val x = d.doubleValue(); val y = num(lit).doubleValue()
      if (x == y) 0 else java.lang.Double.compare(x, y)
    case b: java.lang.Boolean =>
      java.lang.Boolean.compare(b, lit.asInstanceOf[java.lang.Boolean])
    case other => throw new IllegalStateException(
      s"uncomparable column value: $other")
  }

  private def num(lit: Any): Number = lit.asInstanceOf[Number]
}

/** A graftlines directory as a DSv2 table: batch and streaming reads
  * and writes, the `_file` metadata column, and the row-level
  * statements of real table formats through any catalog identifier.
  * Every `DELETE`, `UPDATE` and `MERGE` is one copy-on-write rewrite
  * ([[GlRowLevelOperation]] → [[GlReplaceWrite]] →
  * [[GraftLines.publish]]): `_graft_stats` and Spark's runtime group
  * filter keep the rewrite to the files that hold a match, so a GDPR
  * delete keyed on a user id rewrites only those files, and the
  * replacement files keep the table's [[GlKey]].
  * `TRUNCATE TABLE` and an unconditional `DELETE` are
  * [[truncateTable]]. */
private[sources] class GlTable(path: String, tableSchema: StructType,
    nullFillMissing: Boolean = false,
    /** Set by the catalog's `VERSION AS OF` loadTable: every scan of
      * this Table instance reads that committed generation; writes are
      * rejected (you cannot write to the past). */
    pinnedVersion: Option[Int] = None)
    extends Table with SupportsRead with SupportsWrite with TruncatableTable
    with SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  require(path != null && path.nonEmpty, "graftlines requires a path")

  override def name(): String = s"graftlines `$path`"
  override def schema(): StructType = tableSchema

  /** `_file`: which data file holds the row — synthesized by the
    * readers, never stored. Also the group identity the row-level
    * operations request, which routes their writes through Spark's
    * metadata-projection task (rows arrive clean, no op column). */
  override def metadataColumns():
      Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = GraftLines.FileCol
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String = "data file holding the row"
    })
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val (v, x) = GraftLines.requestedVersion(path, options)
    // pinned catalog time travel wins over the path-read options
    new GlScanBuilder(path, tableSchema, nullFillMissing,
      pinnedVersion.orElse(v), x)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinnedVersion.isEmpty,
      s"graftlines: cannot write to $path pinned at VERSION AS OF " +
        s"${pinnedVersion.getOrElse(-1)} — writes go to the live table")
    // `.option("partitionColumn", col)` keys a path write by identity
    // partitioning; without it the write takes the directory's own
    // key ([[GlKey]])
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val stored = GlKey.keyOf(path, conf)
    val key = Option(info.options.get("partitionColumn")).filter(_.nonEmpty)
      .map(GlKey.Identity(_): GlKey).orElse(stored)
    key.foreach { k =>
      GlKey.requireCompatible(path, stored, k)
      k.check(info.schema(), "graftlines")
    }
    // `.option("clusterBy", col)`: the write REQUESTS a range
    // distribution + sort on that column (see GlWrite), so files land
    // with tight, disjoint stats ranges and later scans prune sharply
    val cb = Option(info.options.get("clusterBy")).filter(_.nonEmpty)
    require(cb.isEmpty || key.isEmpty,
      "graftlines: clusterBy and partitionColumn are mutually exclusive " +
        s"(the write is keyed by '${key.getOrElse("")}')")
    cb.foreach { c =>
      require(info.schema().fieldNames.contains(c),
        s"graftlines: clusterBy column '$c' is not in the write schema " +
          info.schema().fieldNames.mkString("[", ", ", "]"))
    }
    // `.option("clusterPartitions", n)`: pin the number of range
    // partitions (= output files); without it the engine (incl. AQE
    // coalescing) decides
    val cp = Option(info.options.get("clusterPartitions")).map { v =>
      require(v.toIntOption.exists(_ >= 1),
        s"graftlines: clusterPartitions must be a positive int, got '$v'")
      v.toInt
    }
    new GlWriteBuilder(path, info.schema(), cb, cp, key,
      queryId = info.queryId())
  }

  /** `TRUNCATE TABLE` and `DELETE FROM` without a condition: one
    * [[GraftLines.publish]] that replaces every live file with none.
    * On a versioned table that is an empty generation, so the
    * truncated data stays readable with `VERSION AS OF`. */
  override def truncateTable(): Boolean = {
    GraftLines.publish(path,
      SparkSession.active.sparkContext.hadoopConfiguration, Nil,
      GlReplace.All)
    true
  }

  /** Group-based (copy-on-write) DELETE / UPDATE / MERGE: Spark
    * rewrites the statement into a ReplaceData plan — read every row
    * of the AFFECTED groups through [[GlGroupScanBuilder]] (files are
    * the groups; condition filters prune files via `_graft_stats` but
    * NEVER drop rows, so carry-over rows survive the rewrite), apply
    * the modification, and hand the full replacement rows to
    * [[GlReplaceWrite]], whose commit replaces exactly the scanned
    * files with the staged replacements. */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation =
        new GlRowLevelOperation(path, tableSchema, nullFillMissing,
          info.command)
    }
}

/** One UPDATE/MERGE/DELETE rewrite: shared state between the scan that
  * plans the affected groups and the write that replaces them. */
private[sources] class GlRowLevelOperation(path: String,
    schema: StructType, nullFillMissing: Boolean,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {

  /** Files the row-level scan planned — the groups commit replaces.
    * Written at plan time on the driver; re-planning overwrites. None
    * when the scan was never planned: the optimizer pruned the read
    * (see [[replaced]]). */
  @volatile private[sources] var scannedFiles: Option[Seq[String]] = None

  /** The live files the commit supersedes. A DELETE whose read was
    * pruned has a condition the optimizer proved true for every row
    * (`WHERE 1 = 1`), so it replaces every file; an UPDATE or MERGE
    * whose read was pruned (a MERGE from an empty source) touches
    * nothing. */
  private[sources] def replaced: GlReplace = scannedFiles match {
    case Some(files) => GlReplace.Files(files.map(new Path(_).getName).toSet)
    case None if cmd == RowLevelOperation.Command.DELETE => GlReplace.All
    case None => GlReplace.Append
  }

  override def command(): RowLevelOperation.Command = cmd

  /** Ask for `_file`: it routes the replacement write through Spark's
    * metadata-projection task, so data rows arrive already stripped of
    * the operation column. */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(GraftLines.FileCol))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GlGroupScanBuilder(this, path, schema, nullFillMissing)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new GlReplaceWrite(path, info.schema(), GlRowLevelOperation.this)
    }

  override def description(): String = s"graftlines COW $cmd on $path"
}

/** Scan side of a group-based rewrite. CONTRACT (the part a row-level
  * scan must get right): pushed condition filters prune GROUPS only —
  * every filter is returned as residual and the readers row-filter
  * NOTHING, because the replacement write must receive the carry-over
  * rows of affected files, not just the matching ones. Column pruning
  * and limits are likewise not offered: ReplaceData rewrites whole
  * rows. */
private[sources] class GlGroupScanBuilder(op: GlRowLevelOperation,
    path: String, schema: StructType, nullFillMissing: Boolean)
    extends ScanBuilder with SupportsPushDownFilters {

  private var groupFilters: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    groupFilters = filters.filter(GlFilters.supported(schema, _))
    filters // ALL residual — file pruning only, rows stay intact
  }
  override def pushedFilters(): Array[Filter] = Array.empty

  override def build(): Scan =
    // full rows + the `_file` group column requiredMetadataAttributes
    // promised (readers synthesize it)
    GlScan(path,
      schema.add(StructField(GraftLines.FileCol, StringType,
        nullable = false)),
      Array.empty, None, None, schema, nullFillMissing,
      groupPrune = groupFilters,
      onPlan = Some(files => op.scannedFiles = Some(files)))
}

/** Write side of a group-based rewrite: staged task writers through
  * the table's own layout ([[GraftLines.writerFactory]] with its
  * [[GlKey]]), and a
  * [[GraftLines.publish]] that replaces the files the paired scan
  * planned. Rows need no clustering first: the fan-out writer gives
  * each key its own file, which is all the keyed scan asks. On a
  * versioned table the statement becomes time-travelable for free:
  * `VERSION AS OF n` replays the pre-statement table from the same
  * bytes. */
private[sources] class GlReplaceWrite(path: String, schema: StructType,
    op: GlRowLevelOperation) extends Write with BatchWrite {
  GraftLines.header(schema) // reject unstorable types before tasks launch

  override def toBatch: BatchWrite = this

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    GraftLines.writerFactory(path, schema, GlKey.keyOf(path,
      SparkSession.active.sparkContext.hadoopConfiguration))

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    GraftLines.publish(path,
      SparkSession.active.sparkContext.hadoopConfiguration,
      GraftLines.committedFiles(messages), op.replaced)

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftLines.discardStaged(path, messages)
}

/** One pushed aggregate function: kind ∈ countstar|count|min|max,
  * col None only for countstar. */
private[sources] case class GlAggFunc(kind: String, col: Option[String])

/** A pushed (partial) aggregation: per-partition pre-aggregation the
  * source computes; Spark's final aggregate merges partitions. */
private[sources] case class GlAggSpec(groupCols: Seq[String],
    funcs: Seq[GlAggFunc])

private[sources] class GlScanBuilder(path: String, schema: StructType,
    nullFillMissing: Boolean = false, versionAsOf: Option[Int] = None,
    excludeFilesOf: Option[Int] = None)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownLimit
    with SupportsPushDownAggregates {

  private var required: StructType = schema
  private var pushed: Array[Filter] = Array.empty
  private var limit: Option[Int] = None
  private var agg: Option[GlAggSpec] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ok, residual) = filters.partition(GlFilters.supported(schema, _))
    pushed = ok
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Per-partition early stop. `isPartiallyPushed` stays at its default
    * (true): each file reader stops after `limit` surviving rows, and
    * Spark's own global Limit does the cross-partition cut — the only
    * sound split for a multi-file scan. Catalyst only pushes a limit
    * here when every filter between it and the scan was itself pushed,
    * and pushed filters run in the reader BEFORE rows are counted, so
    * limit-after-filter semantics hold exactly. */
  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }

  /** PARTIAL aggregate pushdown (supportCompletePushDown stays false):
    * the scan emits one pre-aggregated row per (partition, group) and
    * Spark's final aggregate merges them — the shape that turns a
    * count/min/max over N rows into one row per file at the source.
    * All-or-nothing: any untranslatable piece declines the whole
    * aggregation and the ordinary row scan stands. Min/max on strings
    * are declined deliberately — java String ordering is UTF-16
    * code-unit order while Spark compares UTF8 bytes (code points);
    * they differ on supplementary characters, and an exactness
    * contract can't ride on "the data is probably ASCII". */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    def ref(e: V2Expression): Option[String] = e match {
      case f: NamedReference if f.fieldNames.length == 1 =>
        Some(f.fieldNames()(0)).filter(n => schema.fieldNames.contains(n))
      case _ => None
    }
    def ordered(n: String): Boolean =
      schema.fields.find(_.name == n).exists(_.dataType match {
        case IntegerType | LongType | DoubleType | DateType |
             TimestampType => true
        case _ => false
      })
    val groups = aggregation.groupByExpressions.toSeq.map(ref)
    if (groups.exists(_.isEmpty)) return false
    val funcs = aggregation.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(GlAggFunc("countstar", None))
      case c: Count if !c.isDistinct =>
        ref(c.column).map(n => GlAggFunc("count", Some(n)))
      case m: Min =>
        ref(m.column).filter(ordered).map(n => GlAggFunc("min", Some(n)))
      case m: Max =>
        ref(m.column).filter(ordered).map(n => GlAggFunc("max", Some(n)))
      case _ => None // avg/sum/distinct/...: decline, keep the row scan
    }
    if (funcs.exists(_.isEmpty)) return false
    agg = Some(GlAggSpec(groups.map(_.get), funcs.map(_.get)))
    true
  }

  override def build(): Scan = {
    val hconf = SparkSession.active.sparkContext.hadoopConfiguration
    GlScan(path, required, pushed, limit, agg,
      schema, nullFillMissing, versionAsOf = versionAsOf,
      key = GlKey.keyOf(path, hconf), excludeFilesOf = excludeFilesOf)
  }
}

/** Public (not `private[sources]`) so plan tests can reach into
  * BatchScanExec and assert on `pushed`/`readSchema` directly.
  *
  * When `aggSpec` is set the scan's output IS the partial aggregation:
  * group columns first (Spark zips them positionally), then one column
  * per aggregate function (counts as long, min/max in the column's own
  * type). `required` is the FULL table schema in that case — Spark
  * builds the scan inside aggregate pushdown, before column pruning
  * would run — and per-group state is O(groups) per file (documented:
  * the same memory shape any partial hash aggregate has). */
case class GlScan(path: String, required: StructType,
    pushed: Array[Filter], pushedLimit: Option[Int] = None,
    aggSpec: Option[GlAggSpec] = None,
    tableSchema: StructType = new StructType(),
    nullFillMissing: Boolean = false,
    /** Row-level-op extras: `groupPrune` filters skip FILES only (rows
      * are never dropped — the readers see `pushed`, which stays empty
      * on such scans); `onPlan` reports the surviving file set to the
      * operation so its replace-commit knows which groups to swap. */
    groupPrune: Array[Filter] = Array.empty,
    onPlan: Option[Seq[String] => Unit] = None,
    /** Time travel: plan this committed generation instead of the
      * latest (versioned tables only — see GraftLines.VersionMarker). */
    versionAsOf: Option[Int] = None,
    /** The table's key, when it has one: enables KeyGroupedPartitioning
      * reporting below. */
    key: Option[GlKey] = None,
    /** Change-feed file delta: plan only files NOT listed in this
      * generation's manifest (option `excludeFilesOfVersion`; see
      * [[GraftLines.resolveDataFileStatuses]]). */
    excludeFilesOf: Option[Int] = None)
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  /** Runtime group filtering (row-level ops): before planning a
    * group-based rewrite, Spark runs a subquery for `DISTINCT _file`
    * of the rows matching the statement's condition and delivers it
    * here as `IN(_file, …)` — so a MERGE whose ON condition pushes no
    * static filter still rewrites ONLY the files that hold matching
    * rows, exactly (names, not stats). Unrecognized predicate shapes
    * are ignored — pruning is an optimization, never load-bearing. */
  @transient private var runtimeAllowedFiles: Option[Set[String]] = None

  /** Advertise `_file` for runtime filtering ONLY when this scan
    * actually outputs it (row-level-operation scans, where Spark
    * requested it via requiredMetadataAttributes). On an ordinary scan
    * `_file` is not in the output, and Spark's runtime-filtering rules
    * resolve filterAttributes against the scan output — advertising an
    * absent column there throws at planning time the moment a join
    * against this scan becomes broadcastable. */
  override def filterAttributes(): Array[NamedReference] =
    if (required.fieldNames.contains(GraftLines.FileCol))
      Array(org.apache.spark.sql.connector.expressions.Expressions
        .column(GraftLines.FileCol))
    else Array.empty

  override def filter(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    val sets = predicates.flatMap { p =>
      if (p.name() != "IN" || p.children().isEmpty) None
      else p.children()(0) match {
        case ref: NamedReference
            if ref.fieldNames.toSeq == Seq(GraftLines.FileCol) =>
          val vals = p.children().drop(1).map {
            case l: org.apache.spark.sql.connector.expressions.Literal[_]
                if l.dataType == StringType =>
              Option(l.value).map(_.toString).orNull
            case _ => null
          }
          // any unconvertible element voids the whole predicate — a
          // partial IN-list would wrongly skip files
          if (vals.contains(null)) None else Some(vals.toSet)
        case _ => None
      }
    }
    if (sets.nonEmpty)
      runtimeAllowedFiles = Some(sets.reduce(_ intersect _))
  }

  /** Filter columns may be pruned out of `required` (Spark removes
    * pushed filters from the plan before pruning), so stats typing and
    * the readers' filter-only slots use the full table schema when the
    * builder provided it. */
  private def statsSchema: StructType =
    if (tableSchema.fields.nonEmpty) tableSchema else required

  private def fieldOf(n: String): StructField =
    required.fields.find(_.name == n).getOrElse(throw
      new IllegalStateException(s"graftlines: pushed agg references "
        + s"'$n' outside the scan schema ${required.catalogString}"))

  private[sources] def aggOutput(spec: GlAggSpec): StructType =
    StructType(spec.groupCols.map(fieldOf) ++
      spec.funcs.zipWithIndex.map { case (f, i) =>
        f.kind match {
          case "countstar" | "count" => StructField(s"agg_$i", LongType)
          case _ => StructField(s"agg_$i", fieldOf(f.col.get).dataType)
        }
      })

  override def readSchema(): StructType =
    aggSpec.map(aggOutput).getOrElse(required)

  override def toBatch: Batch = this

  // ONE metadata snapshot per scan: estimateStatistics (planning),
  // outputPartitioning/keyedPlan, and planInputPartitions (execution)
  // all consult the file list and the stats manifest — without these
  // caches a single filtered scan re-lists the directory and re-reads
  // the manifest up to four times on the driver (noticeable on object
  // stores). Same per-instance lifetime keyedPlan already relies on;
  // Spark caches planInputPartitions per Dataset anyway, so this adds
  // no staleness window that did not already exist. As all planning
  // works from the one resolution, a delta read behaves exactly like a
  // small table.
  @transient private lazy val fileUniverse: Seq[(String, Long)] =
    GraftLines.resolveDataFileStatuses(path,
      SparkSession.active.sparkContext.hadoopConfiguration, versionAsOf,
      excludeFilesOf)
  @transient private lazy val statsCache: Map[String, GlFileStats] =
    GraftLines.readStats(path,
      SparkSession.active.sparkContext.hadoopConfiguration, statsSchema)
  /** `fileUniverse` minus each file whose `_graft_stats` line proves no
    * row can pass `pushed ++ groupPrune`; files without a line stay. */
  @transient private lazy val statsPruned: Seq[(String, Long)] = {
    val pruners = pushed ++ groupPrune
    if (pruners.isEmpty) fileUniverse
    else fileUniverse.filter { case (f, _) =>
      statsCache.get(new Path(f).getName)
        .forall(st => pruners.forall(GlFilters.mayMatch(_, st)))
    }
  }

  /** The ONE freshness rule for serving a manifest row count as exact
    * (manifest COUNT(*), planner numRows): the file's stats line must
    * carry a `#len` equal to its LIVE length — stats merges are
    * best-effort, and a same-name republish whose merge failed
    * leaves a stale count behind that only the length can expose.
    * Both consumers go through here so the rule cannot drift apart. */
  private def freshRows(stats: Map[String, GlFileStats],
      file: String, liveLen: Long): Option[Long] =
    stats.get(new Path(file).getName)
      .filter(_.fileLen.contains(liveLen)).map(_.rows)

  /** Post-pruning statistics for the planner ([[SupportsReportStatistics]]):
    * sizeInBytes = the bytes of exactly the files this scan will plan
    * (pushed + group filters applied against `_graft_stats`), and
    * numRows = their exact manifest row counts when every surviving
    * file carries a stats line (absent otherwise — never guess). This
    * is what lets AQE/join planning see a filtered graftlines scan as
    * broadcast-small even though the directory is huge: the estimate
    * shrinks WITH the pruning, as every real table format's does. All
    * driver-side metadata — one manifest read, no file opens. */
  override def estimateStatistics():
      org.apache.spark.sql.connector.read.Statistics = {
    val kept = statsPruned
    val bytes = kept.map(_._2).sum
    // numRows is only a planner hint, but it rides the same freshness
    // proof as the manifest COUNT(*) — see freshRows
    val keptRows = kept.map { case (f, len) => freshRows(statsCache, f, len) }
    val rowsOpt =
      if (keptRows.forall(_.isDefined)) Some(keptRows.flatten.sum) else None
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): util.OptionalLong =
        util.OptionalLong.of(bytes)
      override def numRows(): util.OptionalLong =
        rowsOpt.map(util.OptionalLong.of).getOrElse(util.OptionalLong.empty())
    }
  }

  override def description(): String =
    s"GraftLines path=$path, " +
      s"ReadSchema: ${readSchema().catalogString}, " +
      s"PushedFilters: [${pushed.mkString(", ")}], " +
      s"PushedLimit: ${pushedLimit.getOrElse(-1)}, " +
      s"PushedAggregation: ${aggSpec.getOrElse("none")}" +
      excludeFilesOf.fold("")(m => s", ExcludeFilesOfVersion: $m")

  /** Keyed planning: when the table has a [[GlKey]] AND every surviving
    * file proves the one key it holds ([[GlKey.fileKey]]), the scan
    * keys every split by it and reports KeyGroupedPartitioning — the
    * storage-partitioned-join contract. Any file that cannot prove its
    * key (pre-keying data, a damaged manifest, a bucket id out of
    * range) degrades the WHOLE scan to the ordinary path: correctness
    * never rides on the grouping, only the exchange-free join plan
    * does. Row-level-op scans (`_file` in the output), aggregate/limit
    * pushdown scans keep the ordinary path too. */
  private def keyedEligible: Boolean =
    aggSpec.isEmpty && pushedLimit.isEmpty && groupPrune.isEmpty &&
      onPlan.isEmpty && !required.fieldNames.contains(GraftLines.FileCol)

  @transient private lazy val keyedPlan: Option[Seq[(String, Long, Any)]] =
    key.filter(_ => keyedEligible).flatMap { k =>
      val keyed = statsPruned.map { case (f, len) =>
        k.fileKey(new Path(f).getName, statsCache).map((f, len, _))
      }
      if (keyed.nonEmpty && keyed.forall(_.isDefined)) Some(keyed.flatten)
      else None
    }

  override def outputPartitioning():
      org.apache.spark.sql.connector.read.partitioning.Partitioning =
    keyedPlan match {
      case Some(kf) =>
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(Array(key.get.transform),
            kf.map(_._3).distinct.size)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(0)
    }

  /** File skipping happens HERE, at plan time: pushed filters are
    * tested against the `_graft_stats` manifest (one driver-side read)
    * and a file whose min/max prove it cannot hold a matching row never
    * becomes a partition — no task, no open, no parse. Files absent
    * from the manifest always scan (stats are an optimization, never a
    * correctness dependency). The same pruning feeds aggregate-pushdown
    * scans, since pushed filters apply before aggregation.
    *
    * Surviving files larger than `spark.sql.files.maxPartitionBytes`
    * are block-split into byte ranges — scan parallelism is bounded by
    * data volume, not file count, so a directory of a few giant files
    * still fans out across the cluster. Range ownership is the
    * text-split rule: a split owns exactly the lines whose FIRST byte
    * falls inside it (readers scan to the next newline — see
    * [[GlReader]]), so any split-size choice yields the same rows. */
  override def planInputPartitions(): Array[InputPartition] = {
    // COUNT(*)-only pushed aggregations with no filters answer from
    // the stats manifest alone — one metadata read, ZERO data-file
    // opens (the Iceberg/Delta manifest-count move). Strictly gated:
    // every planned file must carry an intact stats line (rows ride
    // the same sentinel-protected lines pruning trusts), any filter /
    // group column / runtime predicate falls back to the scan, and an
    // empty file set keeps the ordinary empty-scan machinery (its
    // mandatory partial row makes COUNT 0, never null).
    aggSpec match {
      case Some(spec) if spec.groupCols.isEmpty
          && spec.funcs.nonEmpty
          && spec.funcs.forall(_.kind == "countstar")
          && pushed.isEmpty && groupPrune.isEmpty
          && runtimeAllowedFiles.isEmpty =>
        val files = fileUniverse
        val stats = statsCache
        // served as an EXACT result, so every file needs the length-
        // verified freshness proof (see freshRows); any file without
        // one degrades the whole count to the ordinary scan
        val rows = files.map { case (f, len) => freshRows(stats, f, len) }
        if (files.nonEmpty && rows.forall(_.isDefined))
          return Array(GlStatsCountPartition(rows.flatten.sum,
            spec.funcs.length))
      case _ => ()
    }
    keyedPlan match {
      case Some(kf) =>
        return kf.flatMap { case (f, len, v) =>
          GraftLines.splits(len).map { case (a, b) =>
            GlKeyedPartition(f, a, b, new GenericInternalRow(Array[Any](v)))
          }
        }.toArray
      case None => ()
    }
    val kept = runtimeAllowedFiles match {
      case Some(allowed) => statsPruned.filter { case (f, _) => allowed(f) }
      case None => statsPruned
    }
    onPlan.foreach(_(kept.map(_._1)))
    kept.flatMap { case (f, len) =>
      GraftLines.splits(len).map { case (a, b) => GlInputPartition(f, a, b) }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = new SerializableConfiguration(
      SparkSession.active.sparkContext.hadoopConfiguration)
    GlReaderFactory(required, statsSchema, pushed, pushedLimit, aggSpec,
      conf, nullFillMissing)
  }

  /** TABLE AS A STREAM: `spark.readStream` over a VERSIONED table.
    * Offset N IS committed generation N, and a micro-batch is this
    * scan's change-feed delta between two offsets (the Delta readStream
    * posture, see [[GraftLines.resolveDataFileStatuses]]), so pushed
    * filters, column pruning and stats pruning apply to every batch.
    * Checkpointed offsets survive restart: gen numbers are stable on
    * disk, so resume is exact with no re-emission. Honest limits
    * (documented, spec-pinned): the source is APPEND-driven — a COW
    * rewrite's replacement files stream as new files (the
    * ignoreChanges caveat every file-log stream has), and a retention
    * sweep that expires a not-yet-consumed generation fails the stream
    * loudly rather than silently skipping rows. */
  override def toMicroBatchStream(checkpointLocation: String):
      MicroBatchStream = {
    require(aggSpec.isEmpty && pushedLimit.isEmpty,
      "graftlines streaming: aggregate/limit pushdown not offered")
    require(excludeFilesOf.isEmpty,
      "graftlines streaming: excludeFilesOfVersion is a batch change-" +
        "feed option; the streaming source IS the incremental feed " +
        "(offsets are generations) — drop the option")
    require(versionAsOf.isEmpty,
      "graftlines streaming: versionAsOf / timestampAsOf pin a batch " +
        "read to one version; the streaming source reads every " +
        "generation from the first — drop the option")
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    require(GraftLines.gensOf(path, conf).versioned,
      s"graftlines: streaming reads require a VERSIONED table " +
        s"(generations are the offsets) — $path has no version marker")
    new GlMicroBatchStream(this)
  }
}

/** Streaming offset = committed generation number. */
private[sources] case class GlOffset(gen: Int) extends Offset {
  override def json(): String = gen.toString
}

/** The micro-batch side of [[GlScan.toMicroBatchStream]]: offsets are
  * [[GraftLines.currentVersion]], and the batch (s, e] plans as `scan`
  * at version e minus generation s's files. */
private[sources] class GlMicroBatchStream(scan: GlScan)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming
      .SupportsTriggerAvailableNow {

  private def latest: Int = GraftLines.currentVersion(scan.path,
    SparkSession.active.sparkContext.hadoopConfiguration)

  /** Trigger.AvailableNow ("process everything that exists, then
    * stop" — the batch-cadence way to run a streaming pipeline): the
    * engine calls this once at query start; the latest generation AT
    * THAT MOMENT becomes the run's ceiling, so generations committed
    * while the run drains are left for the NEXT run instead of keeping
    * this one alive. Gen numbers only grow, so the cap is stable. */
  @transient private var availableNowCap: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(latest)

  override def getDefaultReadLimit:
      org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit):
      Offset = {
    val now = latest
    GlOffset(availableNowCap.fold(now)(math.min(now, _)))
  }

  override def reportLatestOffset(): Offset = GlOffset(latest)

  override def initialOffset(): Offset = GlOffset(0)

  override def latestOffset(): Offset = GlOffset(latest)

  override def deserializeOffset(json: String): Offset =
    GlOffset(json.trim.toInt)

  /** Gen 0 is before the first commit, so the first batch excludes
    * nothing. */
  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GlOffset].gen
    val e = end.asInstanceOf[GlOffset].gen
    if (e <= s) Array.empty
    else scan.copy(versionAsOf = Some(e),
      excludeFilesOf = Some(s).filter(_ > 0)).planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    scan.createReaderFactory()

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One scan task: the byte range [start, end) of `file`. (0,
  * Long.MaxValue) = the whole file. */
private[sources] case class GlInputPartition(file: String,
    start: Long = 0L, end: Long = Long.MaxValue)
    extends InputPartition

/** A metadata-only COUNT(*) answer: the whole scan is this one
  * partition, whose reader emits a single pre-aggregated row with the
  * manifest row total — no data file is ever opened. */
case class GlStatsCountPartition(rows: Long, nFuncs: Int)
    extends InputPartition

/** A split of an identity-partitioned table: carries its partition
  * VALUE so Spark can group splits by key and plan storage-partitioned
  * joins ([[org.apache.spark.sql.connector.read.HasPartitionKey]]). */
private[sources] case class GlKeyedPartition(file: String,
    start: Long, end: Long, key: InternalRow)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

/** `dataSchema` types the columns the pushed filters read but the scan
  * does not return (Spark prunes them out of `required`). */
private[sources] case class GlReaderFactory(required: StructType,
    dataSchema: StructType,
    pushed: Array[Filter], limit: Option[Int], aggSpec: Option[GlAggSpec],
    conf: SerializableConfiguration, nullFillMissing: Boolean = false)
    extends PartitionReaderFactory {
  private def range(p: InputPartition): (String, Long, Long) = p match {
    case g: GlInputPartition => (g.file, g.start, g.end)
    case k: GlKeyedPartition => (k.file, k.start, k.end)
    case other => throw new IllegalStateException(other.getClass.getName)
  }

  /** Row reads serve aggregate-pushdown scans only: every other
    * partition is columnar ([[supportColumnarReads]]), so Spark never
    * asks for its rows. */
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case c: GlStatsCountPartition =>
        new PartitionReader[InternalRow] {
          private var done = false
          override def next(): Boolean =
            if (done) false else { done = true; true }
          override def get(): InternalRow =
            new GenericInternalRow(
              Array.fill[Any](c.nFuncs)(java.lang.Long.valueOf(c.rows)))
          override def close(): Unit = ()
        }
      case _ =>
        val spec = aggSpec.getOrElse(throw new IllegalStateException(
          "graftlines: ordinary scans read columnar, not row by row"))
        val (file, start, end) = range(p)
        new GlAggReader(file, required, spec, pushed, conf.value,
          nullFillMissing, start, end)
    }

  /** Ordinary scans hand Spark [[org.apache.spark.sql.vectorized.ColumnarBatch]]es
    * instead of one row at a time: downstream operators read straight
    * out of column vectors inside whole-stage codegen (the scan shows
    * up under a `ColumnarToRow` that is itself codegen'd) and the
    * per-row iterator virtual-call tax disappears. Aggregate-pushdown
    * scans stay row-based — they emit one pre-aggregated row per
    * group, where batching buys nothing. */
  override def supportColumnarReads(p: InputPartition): Boolean =
    aggSpec.isEmpty && !p.isInstanceOf[GlStatsCountPartition]

  override def createColumnarReader(
      p: InputPartition): PartitionReader[ColumnarBatch] = {
    require(aggSpec.isEmpty, "columnar read not offered for agg scans")
    val (file, start, end) = range(p)
    new GlColumnarReader(file, required, dataSchema, pushed, limit,
      conf.value, nullFillMissing = nullFillMissing, start = start,
      end = end)
  }
}

/** Columnar reader: packs [[GlReader]]'s rows into reusable
  * [[OnHeapColumnVector]]s, `batchSize` rows per [[ColumnarBatch]].
  * It copies the first `required.length` slots of the reader's one
  * reused row through the typed getters; the slots after them hold
  * filter-only columns. Parsing stays row-wise (the format is
  * line-oriented — a text format cannot skip column bytes the way
  * parquet column chunks can, which is exactly the documented reason a
  * production format would be a columnar container); the win is
  * downstream: one virtual call per BATCH instead of per row, and
  * vector-at-a-time access for Spark's codegen'd consumers. */
private[sources] class GlColumnarReader(file: String, required: StructType,
    dataSchema: StructType, pushed: Array[Filter], limit: Option[Int],
    conf: org.apache.hadoop.conf.Configuration, batchSize: Int = 4096,
    nullFillMissing: Boolean = false,
    start: Long = 0L, end: Long = Long.MaxValue)
    extends PartitionReader[ColumnarBatch] {

  private val inner = new GlReader(file, required, dataSchema, pushed, limit,
    conf, nullFillMissing, start, end)
  private val vectors: Array[OnHeapColumnVector] =
    OnHeapColumnVector.allocateColumns(batchSize, required)
  private val batch = new ColumnarBatch(
    vectors.toArray[org.apache.spark.sql.vectorized.ColumnVector])
  private val types: Array[DataType] = required.fields.map(_.dataType)

  override def next(): Boolean = {
    var i = 0
    while (i < vectors.length) { vectors(i).reset(); i += 1 }
    var n = 0
    while (n < batchSize && inner.next()) {
      val row = inner.get()
      var j = 0
      while (j < types.length) {
        if (row.isNullAt(j)) vectors(j).putNull(n)
        else types(j) match {
          case IntegerType | DateType => vectors(j).putInt(n, row.getInt(j))
          case LongType | TimestampType =>
            vectors(j).putLong(n, row.getLong(j))
          case DoubleType => vectors(j).putDouble(n, row.getDouble(j))
          case BooleanType => vectors(j).putBoolean(n, row.getBoolean(j))
          case StringType =>
            val b = row.getUTF8String(j).getBytes
            vectors(j).putByteArray(n, b, 0, b.length)
          case other => throw new IllegalStateException(other.toString)
        }
        j += 1
      }
      n += 1
    }
    batch.setNumRows(n)
    n > 0
  }

  override def get(): ColumnarBatch = batch
  override def close(): Unit = { inner.close(); batch.close() }
}

/** Row-based file reader: parses each owned line's needed cells into
  * ONE reused [[SpecificInternalRow]] and keeps the line when the
  * pushed filters pass. The row's layout is `required` first (the
  * `_file` metadata column among them when asked for, set once per
  * file), then the columns only the pushed filters read, typed by
  * `dataSchema`. The filters are evaluated by ONE Catalyst predicate
  * (`Predicate.create` over `StructFilters.filterToExpression`, the
  * CSV and JSON readers' translation) bound to that layout, so an
  * accepted pushdown answers with Spark's own three-valued logic,
  * string order and double semantics. `get()` returns the same row
  * object every time: a consumer that keeps a value copies it. Each
  * string cell is a fresh [[UTF8String]], so a kept string never
  * aliases a reused buffer.
  *
  * Each file's own header is the authority for its column order (files
  * from different writes may legally order columns differently), and
  * every column the row holds must exist there with the row's type.
  *
  * `[start, end)` is the task's byte range for block-split files (the
  * whole file when `(0, Long.MaxValue)`). Ownership is the classic
  * text-split rule: this reader emits exactly the data lines whose
  * FIRST byte lies in the range. A non-zero start seeks to `start - 1`
  * and discards one line — if `start` sat mid-line that consumes the
  * partial tail (the line belongs to the range containing its first
  * byte), and if `start` sat exactly on a line boundary it consumes
  * just the preceding newline — then reads lines, following the last
  * owned line across `end` to its newline. The header line is read
  * through a separate short stream for non-zero starts (every split
  * needs the column order; the range walk never re-reads it).
  *
  * `nullFillMissing` is the schema-evolution switch: when the read
  * comes through the CATALOG (whose `_graft_schema` is authoritative
  * and whose ALTER TABLE appends nullable columns), a column absent
  * from this file's header is a column added AFTER the file was
  * written — its slot stays NULL on every row, matching what a rewrite
  * would have produced, and the filters see that NULL. Path-based
  * reads keep the loud missing-column error: without a catalog schema
  * there is no way to distinguish evolution from a typo'd directory
  * mix, and silence there would hide real corruption. */
private[sources] class GlReader(file: String, required: StructType,
    dataSchema: StructType, pushed: Array[Filter], limit: Option[Int],
    conf: org.apache.hadoop.conf.Configuration,
    nullFillMissing: Boolean = false,
    start: Long = 0L, end: Long = Long.MaxValue)
    extends PartitionReader[InternalRow] {

  private val path = new Path(file)
  private val fs = path.getFileSystem(conf)
  private val in = fs.open(path)

  /** Constructor code after `fs.open` that can throw (seek, header
    * parse, schema validation) must close the stream on the way out —
    * Spark never calls close() on a reader whose constructor threw,
    * so without this each failed task attempt leaks a handle. */
  private def failClosing[T](body: => T): T =
    try body catch {
      case t: Throwable =>
        try in.close() catch { case _: Exception => () }
        throw t
    }

  private val lineText = new org.apache.hadoop.io.Text()
  // pos = byte offset of the next unread line's first byte
  private var pos = 0L
  private val lr = failClosing {
    if (start <= 0L) new org.apache.hadoop.util.LineReader(in)
    else {
      in.seek(start - 1)
      val r = new org.apache.hadoop.util.LineReader(in)
      pos = start - 1 + r.readLine(lineText)
      r
    }
  }

  private val fileSchema = failClosing {
    if (start <= 0L) {
      val n = lr.readLine(lineText)
      require(n > 0, s"graftlines: empty header in $file")
      pos = n.toLong
      GraftLines.parseHeader(lineText.toString, file)
    } else {
      // the header always lives at byte 0 — outside this range
      val hin = fs.open(path)
      val hbr = new BufferedReader(new InputStreamReader(hin, UTF_8))
      try GraftLines.parseHeader(hbr.readLine(), file) finally hbr.close()
    }
  }
  private val fileTypes: Array[DataType] = fileSchema.fields.map(_.dataType)

  private val layout: StructType = failClosing(StructType(required.fields ++
    pushed.flatMap(_.references).distinct
      .filterNot(required.fieldNames.contains).map(dataSchema(_))))
  private val row = new SpecificInternalRow(layout)

  // loud contract: every column of the row must exist in the file with
  // the row's type — unless the catalog vouched for evolution (its slot
  // stays NULL) or it is the synthetic `_file` metadata column
  failClosing {
    layout.fields.zipWithIndex.foreach { case (f, slot) =>
      fileSchema.fieldNames.indexOf(f.name) match {
        case -1 if f.name == GraftLines.FileCol =>
          row.update(slot, UTF8String.fromString(file))
        case -1 if nullFillMissing => ()
        case -1 => throw new IllegalArgumentException(
          s"graftlines: column '${f.name}' missing from $file")
        case i =>
          require(f.dataType == fileTypes(i),
            s"graftlines: column '${f.name}' is " +
              s"${fileTypes(i).catalogString} in $file, query expects " +
              f.dataType.catalogString)
      }
    }
  }

  // per file column: its slot in `row`, or -1 (pruned: never converted)
  private val slotOf: Array[Int] =
    fileSchema.fieldNames.map(layout.fieldNames.indexOf(_))

  private val predicate: Option[BasePredicate] = failClosing {
    def ref(n: String) = Some(BoundReference(layout.fieldIndex(n),
      layout(n).dataType, nullable = true))
    pushed.toSeq.map(f => StructFilters.filterToExpression(f, ref)
      .getOrElse(throw new IllegalStateException(
        s"graftlines: cannot evaluate pushed filter $f")))
      .reduceOption(cx.And(_, _))
      // `a <=> NULL` translates with an untyped NULL literal, which
      // codegen cannot compare: it is `a IS NULL`, as Spark's optimizer
      // rewrites it
      .map(_.transform { case cx.EqualNullSafe(r, cx.Literal(null, _)) =>
        cx.IsNull(r) })
      .map { e => val p = Predicate.create(e); p.initialize(0); p }
  }

  private var emitted = 0

  override def next(): Boolean = {
    if (limit.exists(emitted >= _)) return false // per-partition early stop
    var line = readOwnedLine()
    while (line != null) {
      // limit -1: a trailing empty-string field must survive the split;
      // escapes guarantee tab/newline exactness
      val cells = line.split("\t", -1)
      require(cells.length == fileTypes.length,
        s"graftlines: row with ${cells.length} cells, "
          + s"header has ${fileTypes.length} ($file)")
      var i = 0
      while (i < cells.length) {
        if (slotOf(i) >= 0)
          row.update(slotOf(i), GraftLines.parseCell(cells(i), fileTypes(i)))
        i += 1
      }
      if (predicate.forall(_.eval(row))) {
        emitted += 1
        return true
      }
      line = readOwnedLine()
    }
    false
  }

  /** Next line whose first byte this range owns, or null at range/file
    * end. The byte count comes from the Hadoop LineReader (UTF-8 safe);
    * a line straddling `end` is still read to its newline. */
  private def readOwnedLine(): String = {
    if (pos >= end) return null
    val n = lr.readLine(lineText)
    if (n == 0) return null
    pos += n
    lineText.toString
  }

  override def get(): InternalRow = row
  private var closed = false
  override def close(): Unit = if (!closed) { closed = true; lr.close() }
}

/** Partial-aggregation reader: streams the file through the ordinary
  * row reader (pushed filters apply BEFORE aggregation, matching
  * aggregate-after-filter semantics) and hash-aggregates into
  * per-group states, emitting one row per group at end-of-file. For a
  * global aggregate (no group columns) exactly one partial row is
  * emitted even for an empty partition, so a final COUNT over an empty
  * table is 0, never null. */
private[sources] class GlAggReader(file: String, tableSchema: StructType,
    spec: GlAggSpec, pushed: Array[Filter],
    conf: org.apache.hadoop.conf.Configuration,
    nullFillMissing: Boolean = false,
    start: Long = 0L, end: Long = Long.MaxValue)
    extends PartitionReader[InternalRow] {

  private val inputCols: Seq[String] =
    (spec.groupCols ++ spec.funcs.flatMap(_.col)).distinct
  private val inputSchema = StructType(inputCols.map(n =>
    tableSchema.fields.find(_.name == n).getOrElse(throw
      new IllegalArgumentException(
        s"graftlines: aggregated column '$n' missing from table schema"))))
  private val inner = new GlReader(file, inputSchema, tableSchema, pushed,
    None, conf, nullFillMissing, start, end)

  private val pos: Map[String, Int] = inputCols.zipWithIndex.toMap
  private val groupIdx: Array[Int] = spec.groupCols.map(pos).toArray
  private val funcIdx: Array[Int] =
    spec.funcs.map(f => f.col.map(pos).getOrElse(-1)).toArray
  private val types: Array[DataType] = inputSchema.fields.map(_.dataType)

  /** A group key cell, boxed: the key of the group map. A string key is
    * the row's own [[UTF8String]], fresh per line (see [[GlReader]]). */
  private def value(row: InternalRow, i: Int): Any =
    if (row.isNullAt(i)) null
    else types(i) match {
      case IntegerType | DateType => java.lang.Integer.valueOf(row.getInt(i))
      case LongType | TimestampType => java.lang.Long.valueOf(row.getLong(i))
      case DoubleType => java.lang.Double.valueOf(row.getDouble(i))
      case BooleanType => java.lang.Boolean.valueOf(row.getBoolean(i))
      case StringType => row.getUTF8String(i)
      case other => throw new IllegalStateException(other.toString)
    }

  // The fold runs once per row, so it allocates nothing per row beyond
  // the group key: counts and min/max live in primitive slots per
  // (group, function), and a single group column keys the map on the
  // raw cell. Min/max order is Spark's: natural for the long-backed
  // types, Double.compare (NaN greatest) for doubles;
  // [[GlScanBuilder.pushAggregation]] admits no other min/max type.
  // Output is in first-observation order.
  private lazy val groups: Iterator[InternalRow] = {
    final class GState(val cnt: Array[Long], val dbl: Array[Double],
      val lng: Array[Long], val seen: Array[Boolean])
    val nf = spec.funcs.length
    // opcodes: 0 countstar, 1 count, 2/3 min/max double, 4/5 min/max
    // over a long-backed column (int, long, date, timestamp)
    val ops: Array[Int] = spec.funcs.zipWithIndex.map { case (f, j) =>
      def typed(double: Int, long: Int) = types(funcIdx(j)) match {
        case DoubleType => double
        case IntegerType | DateType | LongType | TimestampType => long
        case other => throw new IllegalStateException(
          s"graftlines: pushed ${f.kind} over $other")
      }
      f.kind match {
        case "countstar" => 0
        case "count" => 1
        case "min" => typed(2, 4)
        case "max" => typed(3, 5)
        case other => throw new IllegalStateException(other)
      }
    }.toArray
    // long-backed min/max slots box back to the column's external type
    val intWidth: Array[Boolean] = spec.funcs.indices.map { j =>
      funcIdx(j) >= 0 && (types(funcIdx(j)) match {
        case IntegerType | DateType => true
        case _ => false
      })
    }.toArray
    val single = groupIdx.length == 1
    val m = scala.collection.mutable.LinkedHashMap[Any, GState]()
    def fresh() = new GState(new Array[Long](nf), new Array[Double](nf),
      new Array[Long](nf), new Array[Boolean](nf))
    while (inner.next()) {
      val row = inner.get()
      val key: Any =
        if (single) value(row, groupIdx(0))
        else groupIdx.map(value(row, _)).toSeq
      val st = m.getOrElseUpdate(key, fresh())
      var j = 0
      while (j < nf) {
        ops(j) match {
          case 0 => st.cnt(j) += 1
          case 1 => if (!row.isNullAt(funcIdx(j))) st.cnt(j) += 1
          case 2 => // min(double)
            if (!row.isNullAt(funcIdx(j))) {
              val v = row.getDouble(funcIdx(j))
              if (!st.seen(j) || java.lang.Double.compare(v, st.dbl(j)) < 0) {
                st.dbl(j) = v; st.seen(j) = true
              }
            }
          case 3 => // max(double)
            if (!row.isNullAt(funcIdx(j))) {
              val v = row.getDouble(funcIdx(j))
              if (!st.seen(j) || java.lang.Double.compare(st.dbl(j), v) < 0) {
                st.dbl(j) = v; st.seen(j) = true
              }
            }
          case 4 => // min(long-backed)
            if (!row.isNullAt(funcIdx(j))) {
              val v = if (intWidth(j)) row.getInt(funcIdx(j)).toLong
                      else row.getLong(funcIdx(j))
              if (!st.seen(j) || v < st.lng(j)) {
                st.lng(j) = v; st.seen(j) = true
              }
            }
          case 5 => // max(long-backed)
            if (!row.isNullAt(funcIdx(j))) {
              val v = if (intWidth(j)) row.getInt(funcIdx(j)).toLong
                      else row.getLong(funcIdx(j))
              if (!st.seen(j) || v > st.lng(j)) {
                st.lng(j) = v; st.seen(j) = true
              }
            }
        }
        j += 1
      }
    }
    inner.close()
    if (m.isEmpty && spec.groupCols.isEmpty) m.update(Seq.empty, fresh())
    m.iterator.map { case (k, st) =>
      val ks: Seq[Any] = if (single) Seq(k) else k.asInstanceOf[Seq[Any]]
      val vs: Seq[Any] = (0 until nf).map { j =>
        ops(j) match {
          case 0 | 1 => java.lang.Long.valueOf(st.cnt(j))
          case _ if !st.seen(j) => null
          case 2 | 3 => java.lang.Double.valueOf(st.dbl(j))
          case _ if intWidth(j) => java.lang.Integer.valueOf(st.lng(j).toInt)
          case _ => java.lang.Long.valueOf(st.lng(j))
        }
      }
      new GenericInternalRow((ks ++ vs).toArray[Any])
    }
  }

  private var current: InternalRow = _
  override def next(): Boolean =
    if (groups.hasNext) { current = groups.next(); true } else false
  override def get(): InternalRow = current
  // the aggregation loop closes `inner` when it drains the file, but a
  // task cancelled BEFORE the first next() never forces the lazy
  // `groups` — closing here (idempotent in GlReader) covers that path
  // instead of leaking the input stream until GC
  override def close(): Unit = inner.close()
}

private[sources] class GlWriteBuilder(path: String, schema: StructType,
    clusterBy: Option[String] = None, clusterParts: Option[Int] = None,
    key: Option[GlKey] = None, queryId: String = "")
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new GlWrite(path, schema, doTruncate,
    clusterBy, clusterParts, key, queryId)
}

/** Batch append and overwrite: task writers stage, and the job commit
  * is one [[GraftLines.publish]] (overwrite replaces every live file
  * at commit time, not before the tasks launch). */
private[sources] class GlWrite(path: String, schema: StructType,
    truncate: Boolean, clusterBy: Option[String] = None,
    clusterParts: Option[Int] = None, key: Option[GlKey] = None,
    /** LogicalWriteInfo.queryId — the streaming query's STABLE id
      * (same across restarts from one checkpoint), the idempotence
      * scope of the epoch ledger. Batch writes never use it. */
    queryId: String = "")
    extends Write with BatchWrite
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  // validate the schema is storable BEFORE launching tasks
  GraftLines.header(schema)

  /** Write-time clustering ([[RequiresDistributionAndOrdering]]):
    * with `.option("clusterBy", col)` the connector asks SPARK to
    * range-partition and sort the incoming rows on that column before
    * they reach the task writers — the engine plans the exchange, the
    * source only declares the requirement (the DSv2-native cousin of
    * q_etl_zorder's hand-rolled repartitionByRange). Every file then
    * covers a tight, DISJOINT key range, which is exactly what makes
    * the `_graft_stats` min/max manifest prune sharply: a point or
    * range predicate later touches one file instead of all of them.
    * Without the option both methods return "unspecified" and the
    * write plans exactly as before. */
  private def clusterSort: Array[
      org.apache.spark.sql.connector.expressions.SortOrder] =
    clusterBy.map { c =>
      Array(org.apache.spark.sql.connector.expressions.Expressions.sort(
        org.apache.spark.sql.connector.expressions.Expressions.identity(c),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
    }.getOrElse(Array.empty)

  override def requiredDistribution():
      org.apache.spark.sql.connector.distributions.Distribution =
    if (key.nonEmpty)
      // co-locate each key in one task -> one file per key table-wide;
      // a bucket transform resolves through GraftCatalog's FunctionCatalog
      org.apache.spark.sql.connector.distributions.Distributions.clustered(
        Array(key.get.transform))
    else if (clusterBy.isEmpty)
      org.apache.spark.sql.connector.distributions.Distributions.unspecified()
    else
      org.apache.spark.sql.connector.distributions.Distributions
        .ordered(clusterSort)

  override def requiredOrdering(): Array[
      org.apache.spark.sql.connector.expressions.SortOrder] = clusterSort

  /** Pinned file count for clustered writes (0 = engine decides). */
  override def requiredNumPartitions(): Int =
    if (clusterBy.isEmpty) 0 else clusterParts.getOrElse(0)

  override def toBatch: BatchWrite = this

  /** Streaming sink (`writeStream.format("graftlines")`): append-only —
    * Complete mode would truncate the table every epoch, which on a
    * versioned table means a full rewrite per micro-batch; reject it
    * loudly and keep the sink's semantics one thing (append). The
    * stream keeps the table's layout, as a batch write does. */
  override def toStreaming: StreamingWrite = {
    require(!truncate,
      "graftlines: streaming supports Append output mode only — " +
        "Complete/Update would truncate the table every micro-batch")
    new GlStreamingWrite(path, schema, key, queryId)
  }

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    GraftLines.writerFactory(path, schema, key)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    key.foreach(GlKey.writeKey(path, _, conf))
    GraftLines.publish(path, conf, GraftLines.committedFiles(messages),
      if (truncate) GlReplace.All else GlReplace.Append)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftLines.discardStaged(path, messages)
}

/** Exactly-once streaming sink (`writeStream.format("graftlines")`,
  * Append mode): every epoch ends in one [[GraftLines.publish]], made
  * idempotent per epoch — the property Structured Streaming demands,
  * because after a failure the engine replays the last micro-batch and
  * calls commit for an epoch that may already be durable.
  *
  *  - **Versioned table**: the generation manifest carries an
  *    `#epoch:<E>:<query>` tag, so the one atomic manifest publish is
  *    both the data publish and the idempotence ledger. A replayed
  *    epoch is found via [[GraftLines.committedEpochs]] and its bytes
  *    are dropped. Each sunk epoch streams back out of the micro-batch
  *    SOURCE over the same table as exactly one generation-diff batch.
  *  - **Plain directory**: final names carry the query and epoch
  *    ([[GraftLines.epochTag]]), and the commit replaces the files of
  *    ITS OWN epoch (a crashed or replayed attempt) — the
  *    overwrite-by-batchId idempotence foreachBatch users hand-roll,
  *    native in the sink.
  *
  * Task writers come from [[GraftLines.writerFactory]] with the
  * table's [[GlKey]], so every epoch lands keyed files. Complete /
  * Update output modes are rejected up front ([[GlWrite.toStreaming]]). */
private[sources] class GlStreamingWrite(path: String, schema: StructType,
    key: Option[GlKey] = None, rawQueryId: String = "")
    extends StreamingWrite {
  /** Tag-safe identity of the owning streaming query: part of the
    * idempotence key (epoch numbers are per query — see
    * [[GraftLines.committedEpochs]]) and of plain-directory file
    * names (so one query's replace-per-epoch cannot sweep another's
    * same-numbered files). */
  private val queryId = GraftLines.queryTag(rawQueryId)
  GraftLines.header(schema) // reject unstorable schemas before tasks launch

  // Incremental committed-epoch ledger: a generation manifest's
  // #epoch tag is immutable once its publish lands, so each
  // commit only has to read manifests NEWER than the last scan.
  // Without the cache a long-running stream into a versioned table
  // pays O(generations) driver file opens per micro-batch — quadratic
  // over the stream's life. Epoch commits are sequential per query,
  // so plain vars suffice; a fresh GlStreamingWrite after recovery
  // starts cold and rebuilds the set from all manifests once.
  private var scannedThroughGen = 0
  private val knownEpochs =
    scala.collection.mutable.Set.empty[(Long, String)]

  private def committedEpochsIncremental(gens: Seq[Int],
      conf: org.apache.hadoop.conf.Configuration)
      : collection.Set[(Long, String)] = {
    gens.iterator.filter(_ > scannedThroughGen).foreach { n =>
      GraftLines.epochOfGen(path, n, conf).foreach(knownEpochs += _)
    }
    scannedThroughGen = gens.foldLeft(scannedThroughGen)(math.max)
    knownEpochs
  }

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    GraftLines.writerFactory(path, schema, key, queryId)

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    key.foreach(GlKey.writeKey(path, _, conf))
    val epoch = (epochId, queryId)
    val files = GraftLines.committedFiles(messages)
    // one generation listing per epoch serves the ledger and publish
    val table = GraftLines.gensOf(path, conf)
    if (table.versioned) {
      val committed = committedEpochsIncremental(table.list, conf)
      if (committed.contains(epoch) || committed.contains((epochId, ""))) {
        // replayed epoch after recovery: already durable — drop the
        // replay's bytes, keep the committed manifest untouched
        GraftLines.discardStaged(path, messages)
        return
      }
      val gen = GraftLines.publish(path, conf, files, GlReplace.Append,
        Some(epoch), known = Some(table))
      // record our own publish in the ledger cache so the next commit's
      // incremental scan doesn't re-open the manifest just written
      knownEpochs += epoch
      gen.foreach(g => scannedThroughGen = math.max(scannedThroughGen, g))
    } else {
      // replace-per-epoch: a crashed or replayed attempt of THIS epoch
      // left files carrying its tag. The tag keys on (query, epoch): a
      // replacement query's epoch 0 must never delete the previous
      // query's epoch-0 files. Legacy names (pre-query-tag builds) no
      // longer match and linger as orphan debris rather than risk
      // cross-query deletion.
      val tag = GraftLines.epochTag(queryId, epochId)
      val stale = GraftLines.listDataFiles(path, conf)
        .map(new Path(_).getName).filter(_.contains(tag))
      GraftLines.publish(path, conf, files, GlReplace.Files(stale.toSet),
        Some(epoch), known = Some(table))
    }
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    GraftLines.discardStaged(path, messages)
}

/** `staged`: the task's staging path (written bytes); `file`: the
  * final name the job commit renames it to. `statsLines`: per-column
  * manifest payloads for the task's file (`rows \t col \t nulls \t
  * min \t max`, cell text encoding) — the final base name is prefixed
  * by the job commit. */
private[sources] case class GlCommitted(staged: Option[String],
    file: Option[String], statsLines: Seq[String] = Nil)
    extends WriterCommitMessage

/** A fan-out task's commit: one [[GlCommitted]] per per-key file it
  * wrote. The job commit flattens these into the ordinary path. */
private[sources] case class GlMultiCommitted(msgs: Seq[GlCommitted])
    extends WriterCommitMessage

/** The live files a [[GraftLines.publish]] supersedes, by base name. */
private[sources] sealed trait GlReplace
private[sources] object GlReplace {
  /** Overwrite: every live file. */
  case object All extends GlReplace
  final case class Files(baseNames: Set[String]) extends GlReplace
  val Append: GlReplace = Files(Set.empty)
}

/** A directory's committed generations, ascending, and whether it is
  * versioned ([[GraftLines.gensOf]]). */
private[sources] final case class GlGens(list: Seq[Int], versioned: Boolean)

/** The key layout of a keyed graftlines table: identity partitioning
  * on a column ([[GlKey.Identity]], the Hive/Iceberg `PARTITIONED BY
  * (col)`) or hash buckets on one ([[GlKey.Bucket]], `PARTITIONED BY
  * (bucket(n, col))`). An unkeyed table has none. Every data file of a
  * keyed table holds ONE key, which is what lets the scan report
  * KeyGroupedPartitioning and two co-keyed tables join with zero
  * exchange (the storage-partitioned join).
  *
  *  - **A property of the directory**, not of a write: set once, by
  *    `CREATE TABLE … PARTITIONED BY` or by the first commit of a path
  *    write with `.option("partitionColumn", col)`, and kept by every
  *    later writer (append, overwrite, row-level rewrite, streaming
  *    epoch, [[GraftLines.compact]]), which reads it back. An overwrite
  *    replaces data files, never the layout: a path overwrite without
  *    `partitionColumn` into a keyed directory still lands keyed files.
  *    A conflicting layout is refused ([[GlKey.writeKey]]).
  *  - **Persisted only as a marker file** ([[GlKey.keyOf]],
  *    [[GlKey.writeKey]]): `_graft_partcol` holds the column, and
  *    `_graft_buckets` holds `col \t n`, one line each.
  *  - **Identity**: a task writes one `-p<k>` file per value, and the
  *    scan recovers the value from the file's stats (min == max), so
  *    the column must be stats-eligible: ordered and non-string, since
  *    string min/max ordering is what the connector refuses to trust.
  *  - **Bucket**: key = [[GraftLines.bucketOf]] of an INT/BIGINT
  *    column, the function [[GraftCatalog]]'s FunctionCatalog publishes,
  *    so the write distribution and the read partitioning resolve to
  *    one function. The id rides the file name (`-b<id>`), so the scan
  *    recovers it without opening the file.
  *
  * A file that cannot prove its key ([[fileKey]]: data written before
  * the table was keyed, a damaged manifest) degrades the whole scan to
  * the ordinary unkeyed plan. */
private[sources] sealed trait GlKey extends Product with Serializable {
  def col: String

  /** The V2 form: the write's clustered distribution, the scan's
    * KeyGroupedPartitioning, and the `PARTITIONED BY` clause. */
  def transform: Transform

  /** The schema check of the catalog DDL and of path writes: the key
    * column must exist with a type this layout can key. */
  def check(schema: StructType, where: String): Unit

  def nullMessage: String

  /** The key of `row`, whose key column is ordinal `i` of type `dt`. */
  def rowKey(row: InternalRow, i: Int, dt: DataType): Any

  /** The name suffix of the `k`-th key file a task opens for `key`; it
    * ends the name before any `-g<N>`. */
  def suffix(key: Any, k: Int): String

  /** The key the live file `name` provably holds. */
  def fileKey(name: String, stats: => Map[String, GlFileStats]): Option[Any]

  private[sources] def marker: String
  private[sources] def line: String
}

private[sources] object GlKey {
  final case class Identity(col: String) extends GlKey {
    def transform: Transform =
      org.apache.spark.sql.connector.expressions.Expressions.identity(col)
    def check(schema: StructType, where: String): Unit =
      checkType(schema, where, s"identity partition column '$col'", col,
        "an ordered non-string type (stats recover the per-file value)")(
        GraftLines.statsEligible)
    def nullMessage: String =
      s"graftlines: NULL partition value in column '$col' — identity " +
        "partitioning requires non-null values (stats cannot recover a NULL)"
    def rowKey(row: InternalRow, i: Int, dt: DataType): Any = dt match {
      case IntegerType | DateType => java.lang.Integer.valueOf(row.getInt(i))
      case LongType | TimestampType => java.lang.Long.valueOf(row.getLong(i))
      case DoubleType => java.lang.Double.valueOf(row.getDouble(i))
      case BooleanType => java.lang.Boolean.valueOf(row.getBoolean(i))
      case other => throw new IllegalStateException(
        s"unsupported partition type $other")
    }
    def suffix(key: Any, k: Int): String = s"-p$k"
    def fileKey(name: String,
        stats: => Map[String, GlFileStats]): Option[Any] =
      stats.get(name).flatMap(_.cols.get(col)).collect {
        case GlColStats(0, mn, mx) if mn != null && mn == mx => mn
      }
    private[sources] def marker: String = GraftLines.PartColMarker
    private[sources] def line: String = col
    override def toString: String = col
  }

  final case class Bucket(col: String, n: Int) extends GlKey {
    def transform: Transform =
      org.apache.spark.sql.connector.expressions.Expressions.bucket(n, col)
    def check(schema: StructType, where: String): Unit =
      checkType(schema, where, s"bucket column '$col'", col, "BIGINT/INT")(
        dt => dt == LongType || dt == IntegerType)
    def nullMessage: String =
      s"graftlines: NULL bucket value in column '$col' — bucket " +
        "partitioning requires non-null keys"
    def rowKey(row: InternalRow, i: Int, dt: DataType): Any = {
      val v: Long = dt match {
        case LongType => row.getLong(i)
        case IntegerType => row.getInt(i).toLong
        case other => throw new IllegalStateException(
          s"unsupported bucket column type $other")
      }
      GraftLines.bucketOf(v, n)
    }
    def suffix(key: Any, k: Int): String = s"-b$key"
    // an id >= n (a file copied in from a table bucketed with another n)
    // is a key the registered bucket function can never produce
    def fileKey(name: String,
        stats: => Map[String, GlFileStats]): Option[Any] =
      GraftLines.bucketIdOf(name).filter(b => b >= 0 && b < n)
        .map(java.lang.Integer.valueOf)
    private[sources] def marker: String = GraftLines.BucketMarker
    private[sources] def line: String = s"$col\t$n"
    override def toString: String = s"bucket($n, $col)"
  }

  private def checkType(schema: StructType, where: String, what: String,
      col: String, rule: String)(ok: DataType => Boolean): Unit = {
    val f = schema.fields.find(_.name == col).getOrElse(
      throw new IllegalArgumentException(s"$where: $what is not in the " +
        "schema " + schema.fieldNames.mkString("[", ", ", "]")))
    require(ok(f.dataType), s"$where: $what must be $rule; got ${f.dataType}")
  }

  /** The key a `PARTITIONED BY` clause declares: `(col)` or
    * `(bucket(n, col))`; anything else is rejected loudly. */
  def parse(partitions: Array[Transform]): Option[GlKey] = {
    if (partitions.isEmpty) return None
    require(partitions.length == 1,
      "graftlines catalog: at most one partition transform is supported")
    def colOf(e: V2Expression): String = e match {
      case r: NamedReference =>
        require(r.fieldNames.length == 1,
          "graftlines catalog: nested partition columns are not supported")
        r.fieldNames()(0)
      case other => throw new IllegalArgumentException(
        s"bucket column must be a column reference, got $other")
    }
    Some(partitions(0) match {
      case t if t.name == "bucket" =>
        val args = t.arguments()
        require(args.length == 2, "bucket(numBuckets, col) expects 2 args")
        val n = args(0) match {
          case l: org.apache.spark.sql.connector.expressions.Literal[_]
              if l.value().isInstanceOf[Int] => l.value().asInstanceOf[Int]
          case other => throw new IllegalArgumentException(
            s"bucket count must be an int literal, got $other")
        }
        require(n >= 1, s"bucket count must be positive: $n")
        Bucket(colOf(args(1)), n)
      case t if t.name == "identity" => Identity(colOf(t.references()(0)))
      case other => throw new UnsupportedOperationException(
        s"graftlines catalog: unsupported partition transform $other — " +
          "only (col) and (bucket(n, col)) are supported")
    })
  }

  /** The key persisted in `dir`'s marker file, if any. */
  def keyOf(dir: String,
      conf: org.apache.hadoop.conf.Configuration): Option[GlKey] = {
    def read(name: String): Option[String] = {
      val p = new Path(new Path(dir), name)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) None
      else {
        val br = new BufferedReader(new InputStreamReader(fs.open(p), UTF_8))
        try Option(br.readLine()).map(_.trim) finally br.close()
      }
    }
    read(GraftLines.BucketMarker).map(_.split('\t')).collect {
      case Array(c, n) if n.toIntOption.exists(_ >= 1) => Bucket(c, n.toInt)
    }.orElse(read(GraftLines.PartColMarker).filter(_.nonEmpty).map(Identity))
  }

  /** Refuses `key` for a directory that already has another one. */
  def requireCompatible(dir: String, stored: Option[GlKey],
      key: GlKey): Unit =
    require(stored.forall(_ == key),
      s"graftlines: $dir is already partitioned by " +
        s"'${stored.getOrElse("")}' — cannot repartition to '$key'")

  /** Persists `key` as `dir`'s marker, create-once ([[GlMetaFile]]): a
    * no-op when `dir` already has it, an error when `dir` has another.
    * A racer's marker published first counts when it holds the same
    * key; the re-read also refuses the other layout's marker when it
    * landed first. */
  def writeKey(dir: String, key: GlKey,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    val stored = keyOf(dir, conf)
    requireCompatible(dir, stored, key)
    if (stored.isEmpty) {
      val p = new Path(new Path(dir), key.marker)
      try GlMetaFile.createOnce(p.getFileSystem(conf), p, Seq(key.line))
      catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => () }
      val now = keyOf(dir, conf)
      requireCompatible(dir, now, key)
      require(now.nonEmpty,
        s"graftlines: key marker $p holds no key — delete it and retry")
    }
  }
}

/** The one producer of task writers ([[GraftLines.writerFactory]]).
  * Final names before the key suffix:
  *  - batch: `part-<pid>-<task>-<jobTag>`; the job tag
  *    ([[GraftLines.newJobTag]]) is drawn once per factory on the
  *    driver and serialized to every task.
  *  - streaming: `part-<pid>-q<query>-e<E>-<task>`, which carries the
  *    [[GraftLines.epochTag]] replace-per-epoch matches and no job tag.
  * A key adds `-b<id>` or `-p<k>` ([[GlFanOutWriter]]); a versioned
  * commit then adds `-g<N>`. */
private[sources] case class GlWriterFactory(path: String, schema: StructType,
    conf: SerializableConfiguration, key: Option[GlKey] = None,
    queryId: String = GraftLines.queryTag(""),
    jobTag: String = GraftLines.newJobTag())
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    writer(f"part-$partitionId%05d-$taskId-$jobTag")

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    writer(f"part-$partitionId%05d" +
      GraftLines.epochTag(queryId, epochId) + taskId)

  private def writer(base: String): DataWriter[InternalRow] = key match {
    case Some(k) => new GlFanOutWriter(path, schema, conf.value, base, k)
    case None => new GlWriter(path, schema, conf.value, base + GraftLines.Ext)
  }
}

/** Keyed task writer: routes each row to the [[GlWriter]] for its
  * [[GlKey]], so every landed file holds ONE key — the invariant
  * behind the scan's KeyGroupedPartitioning. An append clusters rows
  * by the key first (GlWrite.requiredDistribution), so a task usually
  * owns whole keys and the writer map stays small; a row-level rewrite
  * or a compaction does not, and a key then spans several files, which
  * the scan groups. */
private[sources] class GlFanOutWriter(dir: String, schema: StructType,
    conf: org.apache.hadoop.conf.Configuration, base: String, key: GlKey)
    extends DataWriter[InternalRow] {

  private val i = schema.fieldIndex(key.col)
  private val colType = schema.fields(i).dataType
  private val writers =
    scala.collection.mutable.LinkedHashMap.empty[Any, GlWriter]

  override def write(row: InternalRow): Unit = {
    require(!row.isNullAt(i), key.nullMessage)
    val k = key.rowKey(row, i, colType)
    writers.getOrElseUpdate(k, new GlWriter(dir, schema, conf,
      base + key.suffix(k, writers.size) + GraftLines.Ext)).write(row)
  }

  override def commit(): WriterCommitMessage =
    GlMultiCommitted(writers.values
      .map(_.commit().asInstanceOf[GlCommitted]).toSeq)
  override def abort(): Unit = writers.values.foreach(_.abort())
  override def close(): Unit = writers.values.foreach(_.close())
}

/** Task-side writer: lazily creates the STAGING file
  * `.<finalName>.staging` on first row (empty partitions land no
  * file); the job commit renames it to `finalName`. The dot-prefix +
  * suffix keep it out of every data listing, so a task is invisible
  * to readers until the whole job publishes. The factory puts the
  * partition and task id in `finalName`: task-unique names keep
  * concurrent speculative attempts from colliding (attempt id is
  * folded into taskId by Spark; only the winning attempt's message
  * reaches the job commit). */
private[sources] class GlWriter(dir: String, schema: StructType,
    conf: org.apache.hadoop.conf.Configuration, finalName: String)
    extends DataWriter[InternalRow] {

  private val file = new Path(dir, s".$finalName.staging")
  private var out: OutputStreamWriter = _
  private val types = schema.fields.map(_.dataType)

  // Per-column stats for the `_graft_stats` manifest, accumulated as
  // rows stream through (no second pass, no task-output re-read) —
  // see [[GlStatsAcc]], shared with the refreshStats back-fill so the
  // line shapes cannot drift between the two producers.
  private val acc = new GlStatsAcc(schema)

  private def ensureOpen(): Unit = if (out == null) {
    out = new OutputStreamWriter(
      file.getFileSystem(conf).create(file, true), UTF_8)
    out.write(GraftLines.header(schema))
    out.write('\n')
  }

  override def write(row: InternalRow): Unit = {
    ensureOpen()
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < types.length) {
      if (i > 0) sb.append('\t')
      if (row.isNullAt(i)) sb.append("\\N")
      else types(i) match {
        case IntegerType | DateType => sb.append(row.getInt(i))
        case LongType | TimestampType => sb.append(row.getLong(i))
        case DoubleType => sb.append(row.getDouble(i)) // shortest repr round-trips
        case BooleanType => sb.append(row.getBoolean(i))
        case StringType =>
          sb.append(GraftLines.escape(row.getUTF8String(i).toString))
        case other => throw new IllegalStateException(other.toString)
      }
      i += 1
    }
    sb.append('\n')
    out.write(sb.toString)
    acc.add(row)
  }

  override def commit(): WriterCommitMessage = {
    if (out != null) out.close()
    if (out == null) GlCommitted(None, None)
    else {
      // byte length of the finished staging file — the publish is a
      // rename, so this IS the final file's length. It rides its own
      // `#len` stats line as the staleness cross-check consumers of
      // EXACT row counts require (see [[GraftLines.StatsLenMarker]]).
      val byteLen = file.getFileSystem(conf).getFileStatus(file).getLen
      GlCommitted(Some(file.toString),
        Some(new Path(dir, finalName).toString), acc.lines(byteLen))
    }
  }

  override def abort(): Unit = {
    if (out != null) { out.close(); file.getFileSystem(conf).delete(file, false) }
  }

  override def close(): Unit = ()
}

/** Streaming per-file stats accumulator — the ONE producer of
  * `_graft_stats` line shapes, shared by the write path ([[GlWriter]],
  * lines ride the commit message) and [[GraftLines.refreshStats]]
  * (which recounts existing files so manifests written before the
  * `#len` cross-check regain the exact-count fast path). Keeping both
  * producers on one implementation means the formats cannot drift.
  *
  *  - (nulls, min, max) for stats-eligible columns only — the type
  *    set [[GlFilters.mayMatch]] compares in Spark's order, so a
  *    recorded min/max is always safe to prune with.
  *  - String columns get a per-file Bloom filter instead of min/max
  *    (ordering is the UTF-16/UTF8 hazard; membership has no order):
  *    k probes per non-null value, one hex cell. Fixed 1 KiB per
  *    (file, column).
  */
private[sources] class GlStatsAcc(schema: StructType) {
  private val types = schema.fields.map(_.dataType)
  private val statsCols: Array[Int] =
    types.indices.filter(i => GraftLines.statsEligible(types(i))).toArray
  private var rowCount = 0L
  private val nullCounts = new Array[Long](types.length)
  private val mins = new Array[Any](types.length)
  private val maxs = new Array[Any](types.length)
  private val bloomCols: Array[Int] =
    types.indices.filter(types(_) == StringType).toArray
  private val blooms: Array[Array[Long]] =
    bloomCols.map(_ => new Array[Long](GlBloom.NumLongs))

  /** Spark's orders for the stats-eligible types, the ones
    * GlAggReader's min/max fold uses: ints/longs natural, doubles via
    * Double.compare (NaN greatest; a NaN-polluted max only widens the
    * range GlFilters.mayMatch keeps, because NaN literals are never
    * pushed), booleans false < true. */
  private def less(a: Any, b: Any): Boolean = (a, b) match {
    case (x: java.lang.Integer, y: java.lang.Integer) => x < y
    case (x: java.lang.Long, y: java.lang.Long) => x < y
    case (x: java.lang.Double, y: java.lang.Double) =>
      java.lang.Double.compare(x, y) < 0
    case (x: java.lang.Boolean, y: java.lang.Boolean) => !x && y
    case _ => throw new IllegalStateException(s"unorderable: $a / $b")
  }

  def add(row: InternalRow): Unit = {
    rowCount += 1
    var s = 0
    while (s < statsCols.length) {
      val c = statsCols(s)
      if (row.isNullAt(c)) nullCounts(c) += 1
      else {
        val v: Any = types(c) match {
          case IntegerType => java.lang.Integer.valueOf(row.getInt(c))
          case LongType => java.lang.Long.valueOf(row.getLong(c))
          case DoubleType => java.lang.Double.valueOf(row.getDouble(c))
          case BooleanType => java.lang.Boolean.valueOf(row.getBoolean(c))
          case other => throw new IllegalStateException(other.toString)
        }
        if (mins(c) == null || less(v, mins(c))) mins(c) = v
        if (maxs(c) == null || less(maxs(c), v)) maxs(c) = v
      }
      s += 1
    }
    var b = 0
    while (b < bloomCols.length) {
      val c = bloomCols(b)
      if (row.isNullAt(c)) nullCounts(c) += 1
      else GlBloom.add(blooms(b), row.getUTF8String(c).toString)
      b += 1
    }
  }

  /** Stats lines for the accumulated rows, WITHOUT the leading
    * baseName field (the committer prefixes it): the `#len` length
    * cross-check line first, then min/max lines, then Bloom lines. */
  def lines(byteLen: Long): Seq[String] = {
    val lenLine = s"$rowCount\t${GraftLines.StatsLenMarker}\t0" +
      s"\t$byteLen\t-\t${GraftLines.StatsSentinel}"
    Seq(lenLine) ++ statsCols.toSeq.map { c =>
      val mn = if (mins(c) == null) "\\N" else mins(c).toString
      val mx = if (maxs(c) == null) "\\N" else maxs(c).toString
      s"$rowCount\t${schema.fields(c).name}\t${nullCounts(c)}\t$mn\t$mx" +
        s"\t${GraftLines.StatsSentinel}"
    } ++ bloomCols.toSeq.zipWithIndex.map { case (c, b) =>
      s"$rowCount\t${schema.fields(c).name}\t${nullCounts(c)}" +
        s"\t${GlBloom.Marker}\t${GlBloom.encode(blooms(b))}" +
        s"\t${GraftLines.StatsSentinel}"
    }
  }
}
