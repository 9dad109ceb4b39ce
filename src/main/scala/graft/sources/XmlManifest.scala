package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.util.SerializableConfiguration

/** One fetched XML document: `path` is the file's qualified Hadoop path
  * (`file:/…/a[1].xml`, never URL-encoded), the `file` every MicMac
  * importer keys its rows on, and `xml` its UTF-8 text.
  */
final case class XmlFile(path: String, length: Long, xml: String)

/** The one XML front end of the MicMac importers (SURVEY §2A/A1).
  *
  * The file list is DATA, not driver state: a manifest (a Dataset of
  * paths, typically a parquet column produced by whatever wrote the
  * files, or a paths file) is partitioned across executors, and each
  * task opens its paths directly against the FileSystem API. Spark's
  * file index, which materialises every file status on the driver and
  * caps out long before a billion small orientation files, is on no
  * import path.
  *
  *   manifest (Dataset[String], N paths)
  *     -> qualify                          // narrow, executor-side
  *     -> repartition(parts, path) + sort  // the one shuffle
  *     -> fetch (open + read)              // executor-side IO
  *     -> DataFrame[path, length, xml]     // MicMacEtl.import*Xml
  *
  * A glob ([[readGlob]], behind the importers' glob entry points) is a
  * driver-built manifest: the driver expands it, sorts the hits and
  * slices them into min(files, defaultParallelism) local partitions,
  * so the same fetch runs with no shuffle.
  *
  * The input contract, the same for both front ends:
  *  - a document's `path` is `fs.makeQualified(new Path(p)).toString`,
  *    so one file carries one `path` however it was named;
  *  - a path listed twice (after qualification) fails the read naming
  *    it: the fetch sees each partition's paths sorted, so a repeat
  *    sits next to its twin and costs O(1) memory per task;
  *  - an unreadable path, or a file over `maxBytes`, fails the task
  *    loudly (A8 posture: bad input is an error, not a silent drop);
  *  - a glob that matches nothing, or matches a directory, fails at the
  *    import call naming the path;
  *  - documents are read as plain UTF-8: no codec is applied, so a
  *    compressed file is not an admissible input.
  *
  * The Hadoop conf travels once per executor via the standard
  * SerializableConfiguration broadcast, so S3/HDFS credentials and
  * tuning reach every task. When file count dwarfs byte count, the
  * long-term layout packs the documents into splittable containers
  * ([[pack]]/[[readPacked]]); the manifest needs no re-layout.
  */
object XmlManifest {

  /** Largest admissible single XML document. Orientation XMLs are KBs;
    * anything near array-max is corrupt input, and admitting sizes up
    * to Int.MaxValue would OOM inside the array allocation (HotSpot
    * caps arrays below Int.MaxValue) instead of failing the loud
    * require — and several ~2 GiB buffers across concurrent tasks
    * would blow the executor heap first anyway. */
  val DefaultMaxBytes: Long = 256L << 20

  /** Fetch every path in `manifest` executor-side, `parts` ways. */
  def readXml(spark: SparkSession, manifest: Dataset[String],
      parts: Int = 32, maxBytes: Long = DefaultMaxBytes): DataFrame = {
    import spark.implicits._
    val bc = broadcastConf(spark)
    val qualified = manifest.mapPartitions { ps =>
      val conf = bc.value.value
      ps.map { p =>
        val path = new Path(p)
        path.getFileSystem(conf).makeQualified(path).toString
      }
    }
    fetch(qualified.repartition(parts, qualified("value"))
      .sortWithinPartitions("value"), maxBytes, bc)
  }

  /** The files `glob` matches, fetched in path order. */
  private[graft] def readGlob(spark: SparkSession, glob: String): DataFrame = {
    import spark.implicits._
    val bc = broadcastConf(spark)
    val p = new Path(glob)
    val fs = p.getFileSystem(bc.value.value)
    val hits = Option(fs.globStatus(p)).toSeq.flatten
    if (hits.isEmpty)
      throw new java.io.FileNotFoundException(s"no file matches $glob")
    hits.find(!_.isFile).foreach(h => throw new IllegalArgumentException(
      s"not a file: ${h.getPath} (matched by $glob)"))
    fetch(hits.map(h => fs.makeQualified(h.getPath).toString)
      .sorted.toDS(), DefaultMaxBytes, bc)
  }

  private def broadcastConf(spark: SparkSession) = spark.sparkContext.broadcast(
    new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))

  /** Qualified paths, sorted within each partition -> (path, length,
    * xml). */
  private def fetch(paths: Dataset[String], maxBytes: Long,
      bc: Broadcast[SerializableConfiguration]): DataFrame = {
    require(maxBytes > 0 && maxBytes <= Int.MaxValue - 8,
      s"maxBytes must fit a JVM array: $maxBytes")
    import paths.sparkSession.implicits._
    paths.mapPartitions { ps =>
      val conf = bc.value.value
      var prev: String = null
      ps.map { p =>
        require(p != prev, s"XML file listed twice in the manifest: $p")
        prev = p
        val path = new Path(p)
        // ONE metadata round-trip per file (open), not two (a
        // getFileStatus first): at millions of ~KiB files the per-file
        // RPC count IS the job cost, and the size guard works just as
        // well from the stream — read up to maxBytes + 1 and fail if
        // the extra byte materializes
        val in = path.getFileSystem(conf).open(path)
        val bytes = try in.readNBytes(maxBytes.toInt + 1) finally in.close()
        require(bytes.length <= maxBytes,
          s"XML file too large for single-doc read: $p (> $maxBytes B)")
        XmlFile(p, bytes.length, new String(bytes, "UTF-8"))
      }
    }.toDF()
  }

  /** Container packing — the long-term layout when file COUNT dwarfs
    * byte count (millions of ~KiB orientation files): run the manifest
    * fetch ONCE as a packing job and land the documents in splittable
    * parquet containers of (path, length, xml). After that, every
    * consumer reads the containers with the ordinary parquet scan —
    * vectorized, splittable, no per-file FileSystem round-trips, and
    * the driver lists O(containers) instead of O(documents). The
    * packed table is schema-identical to [[readXml]]'s output, so the
    * parse path downstream is source-agnostic.
    */
  def pack(spark: SparkSession, manifest: Dataset[String], outDir: String,
      parts: Int = 32, maxBytes: Long = DefaultMaxBytes): Unit =
    readXml(spark, manifest, parts, maxBytes)
      .write.mode("overwrite").parquet(outDir)

  /** Read a packed container dir back as the (path, length, xml) shape. */
  def readPacked(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** Convenience: a manifest from a text file of newline-separated
    * paths (itself read distributed — one small file of paths unlocks
    * any number of data files).
    */
  def fromPathsFile(spark: SparkSession, pathsFile: String): Dataset[String] = {
    import spark.implicits._
    // trim BEFORE the emptiness filter: a CRLF-authored manifest leaves
    // '\r' on every path (FileNotFound on each fetch task), and a line
    // of spaces passes a bare nonEmpty check
    spark.read.textFile(pathsFile).map(_.trim).filter(_.nonEmpty)
  }
}
