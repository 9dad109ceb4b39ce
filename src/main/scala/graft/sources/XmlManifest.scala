package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.util.SerializableConfiguration

/** One fetched XML file: the same (path, content) shape `wholetext`
  * produces, so downstream `from_xml` parsing is source-agnostic.
  */
final case class XmlFile(path: String, length: Long, xml: String)

/** Scale-out XML ingestion (SURVEY §2A/A1; VERDICT r2 #8).
  *
  * The `wholetext` path used by the ETL importers is correct but
  * driver-bound at 100 TB: `spark.read` materializes the file listing
  * on the DRIVER (InMemoryFileIndex), and a billion small orientation
  * files OOM the driver before a single byte of XML is read.
  *
  * This source inverts that: the file listing is DATA, not driver
  * state. A manifest — a Dataset of paths, typically a parquet column
  * produced by whatever wrote the files, or built once by a recursive
  * lister running AS A JOB — is partitioned across executors, and each
  * task opens its paths directly against the FileSystem API. The
  * driver never holds more than the manifest's query plan.
  *
  *   manifest (Dataset[String], N paths)
  *     -> repartition(parts)             // balance fetch work
  *     -> mapPartitions(open + read)     // executor-side IO
  *     -> DataFrame[path, length, xml]   // feed MicMacEtl.import*Xml
  *
  * Properties a 1000-executor cluster needs, and local[n] verifies:
  *  - listing cost is O(manifest rows / parallelism) per task, O(1) on
  *    the driver — no InMemoryFileIndex;
  *  - fetch is embarrassingly parallel; stragglers are bounded by
  *    `parts` times mean file size, not by directory layout;
  *  - the Hadoop conf travels once per executor via the standard
  *    SerializableConfiguration broadcast wrapper, so S3/HDFS creds
  *    and tuning reach every task;
  *  - unreadable paths fail the task loudly (A8 posture: bad input is
  *    an error, not a silent drop).
  *
  * When file count dwarfs byte count (millions of ~KiB orientation
  * files), the long-term answer is packing into container files and
  * reading those with a splittable format — implemented below as
  * [[XmlManifest.pack]]/[[XmlManifest.readPacked]]; this source is the
  * bridge that needs no re-layout of the input.
  */
object XmlManifest {

  /** Largest admissible single XML document. Orientation XMLs are KBs;
    * anything near array-max is corrupt input, and admitting sizes up
    * to Int.MaxValue would OOM inside the array allocation (HotSpot
    * caps arrays below Int.MaxValue) instead of failing the loud
    * require — and several ~2 GiB buffers across concurrent tasks
    * would blow the executor heap first anyway. */
  val DefaultMaxBytes: Long = 256L << 20

  /** Fetch every path in `manifest` executor-side. Files larger than
    * `maxBytes` fail the task loudly (A8 posture). */
  def readXml(spark: SparkSession, manifest: Dataset[String],
      parts: Int = 32, maxBytes: Long = DefaultMaxBytes): DataFrame = {
    require(maxBytes > 0 && maxBytes <= Int.MaxValue - 8,
      s"maxBytes must fit a JVM array: $maxBytes")
    import spark.implicits._
    val hconf = new SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val bc = spark.sparkContext.broadcast(hconf)
    manifest.repartition(parts).mapPartitions { paths =>
      val conf: Configuration = bc.value.value
      paths.map { p =>
        val path = new Path(p)
        val fs = path.getFileSystem(conf)
        // ONE metadata round-trip per file (open), not two (a
        // getFileStatus first): at millions of ~KiB files the per-file
        // RPC count IS the job cost, and the size guard works just as
        // well from the stream — read up to maxBytes + 1 and fail if
        // the extra byte materializes
        val in = fs.open(path)
        try {
          val out = new java.io.ByteArrayOutputStream(8192)
          val chunk = new Array[Byte](64 << 10)
          var total = 0L
          var n = in.read(chunk)
          while (n >= 0 && total <= maxBytes) {
            out.write(chunk, 0, n)
            total += n
            n = in.read(chunk)
          }
          require(total <= maxBytes,
            s"XML file too large for single-doc read: $p "
              + s"(> $maxBytes B)")
          XmlFile(p, total, new String(out.toByteArray, "UTF-8"))
        } finally in.close()
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
