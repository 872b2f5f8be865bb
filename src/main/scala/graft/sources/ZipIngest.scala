package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.util.zip.ZipInputStream

import scala.collection.mutable

import com.fasterxml.jackson.core.JsonProcessingException
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, GraftJsonBridge, JSONOptions, JsonInferSchema}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}

/** Zip-archive ingest: one input file = a zip holding `metadata.json`
  * plus one JSON-lines member per entity — the file shape the reference
  * pulls from S3 and unpacks driver-side
  * (/root/reference/sqs_sensor_dag.py:92-98, metadata.json member read
  * at :96-98; payload parse inside ReaderStep [inferred],
  * parallelized_data_pipeline_dag.py:183).
  *
  * The zip member extraction is inherently a single stream, exactly as
  * in the reference — it happens once on the driver per (small) control
  * file. Payload rows immediately become distributed DataFrames; at
  * 100 TB the payload would land unzipped on object storage and be read
  * with `spark.read.json(path)` directly — this reader is the
  * control-plane path, not the bulk path.
  *
  * Each entity frame is what `spark.read.json(spark.createDataset(lines))`
  * gives (same schema, same rows; `ZipIngestSpec` holds the two equal),
  * without its per-file Spark floor:
  *  - Partitions: one per `spark.sql.files.maxPartitionBytes` of
  *    member text (characters, newlines included), the bound a file scan
  *    puts on a split. A small member is one partition, so its write is
  *    one task and lands as one part file; a local Dataset would be cut
  *    into `defaultParallelism` slices whatever its size.
  *  - Schema: inferred on the driver from the lines already in
  *    memory, with Spark's own JSON inference (`inferField` per line,
  *    merged by `compatibleRootType`, then `canonicalizeType`) under the
  *    session's conf and the reader's default options, PERMISSIVE mode
  *    included: a line Jackson cannot parse infers as the
  *    `spark.sql.columnNameOfCorruptRecord` column. The read then takes
  *    that schema, so building the frame submits no Spark job; Spark's
  *    inference would have run one per entity.
  */
object ZipIngest {

  final case class ZipPayload(metadata: Map[String, String], entities: Map[String, DataFrame])

  /** Read a zip through the Hadoop FS API (works for file://, hdfs://,
    * s3a:// alike), returning parsed metadata and one DataFrame per
    * data member (member name without .json = entity name).
    */
  def read(spark: SparkSession, path: String): ZipPayload = {
    val p = new Path(path)
    val fs = FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration)
    val zin = new ZipInputStream(fs.open(p))
    val members = mutable.Map[String, Vector[String]]()
    try {
      var entry = zin.getNextEntry
      while (entry != null) {
        if (!entry.isDirectory) {
          val reader = new BufferedReader(new InputStreamReader(zin, StandardCharsets.UTF_8))
          val lines = Iterator.continually(reader.readLine()).takeWhile(_ != null).toVector
          members(entry.getName) = lines
        }
        entry = zin.getNextEntry
      }
    } finally zin.close()

    val metadata = members.get("metadata.json").map(ls => parseMetadata(ls.mkString("\n"))).getOrElse(Map.empty)
    val maxBytes = spark.sessionState.conf.filesMaxPartitionBytes
    val entities = (members - "metadata.json").map { case (name, lines) =>
      val chars = lines.iterator.map(_.length + 1L).sum
      val parts = math.max(1L, (chars + maxBytes - 1) / maxBytes).toInt
      val ds = spark.createDataset(spark.sparkContext.parallelize(lines, parts))(Encoders.STRING)
      name.stripSuffix(".json") -> spark.read.schema(inferSchema(spark, lines)).json(ds)
    }.toMap
    ZipPayload(metadata, entities)
  }

  /** The schema `spark.read.json` infers for `lines`, computed on the
    * driver: `JsonInferSchema.infer` without the Spark job (one
    * partition, so its per-partition reduce and cross-partition fold
    * collapse into one fold from the empty struct).
    */
  private def inferSchema(spark: SparkSession, lines: Seq[String]): StructType = {
    val conf = spark.sessionState.conf
    val options = new JSONOptions(Map.empty[String, String], conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
    SQLConf.withExistingConf(conf) {
      val inference = new JsonInferSchema(options)
      val merge = JsonInferSchema.compatibleRootType(options.columnNameOfCorruptRecord, options.parseMode)
      val corrupt = StructType(Seq(StructField(options.columnNameOfCorruptRecord, StringType)))
      val factory = options.buildJsonFactory()
      val root = lines.iterator.map { line =>
        try scala.util.Using.resource(CreateJacksonParser.string(factory, line)) { parser =>
          parser.nextToken()
          inference.inferField(parser)
        } catch {
          // the errors JsonInferSchema hands to the parse mode for a
          // Dataset source; PERMISSIVE keeps the line as a corrupt record
          case _: RuntimeException | _: JsonProcessingException => corrupt
        }
      }.foldLeft(StructType(Nil): DataType)(merge)
      // canonicalizeType erases every empty struct, the root one included
      GraftJsonBridge.canonicalizeType(inference, root, options)
        .collect { case s: StructType => s }.getOrElse(StructType(Nil))
    }
  }

  /** metadata.json -> flat string map (workflow_system_name, company_id,
    * ... — the keys read at sqs_sensor_dag.py:100-103).
    */
  private[graft] def parseMetadata(json: String): Map[String, String] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    JsonMethods.parse(json) match {
      case JObject(fields) =>
        fields.collect {
          case (k, JString(v)) => k -> v
          case (k, JInt(v))    => k -> v.toString
          case (k, JLong(v))   => k -> v.toString
          case (k, JDouble(v)) => k -> v.toString
          case (k, JBool(v))   => k -> v.toString
        }.toMap
      case _ => Map.empty
    }
  }
}
