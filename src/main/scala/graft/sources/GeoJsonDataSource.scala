package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.fasterxml.jackson.databind.util.RawValue
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** `spark.read.format("geojson")` — a DataSource V2 connector for the three
  * GeoJSON shapes the reference ingests (FeatureCollection / single Feature /
  * bare feature array; reference src/process_cycle_networks.py:18-55), the
  * "external source connector" entry point of a scrape-style ETL.
  *
  * Fixed normalized schema (no inference pass over the data):
  *   - `feature_idx`   position of the feature within its source document
  *   - `geometry_type` GeoJSON geometry type string
  *   - `parts`         coordinates normalized to multi-part form
  *                     array<array<array<double>>> — one entry per part
  *                     (LineString/Point wrap to a single part;
  *                     MultiLineString parts and Polygon rings map 1:1;
  *                     MultiPolygon flattens its polygons' rings)
  *   - `properties`    map<string,string> — scalar values verbatim, nested
  *                     values as compact JSON
  *   - `properties_json` the feature's whole `properties` object as compact
  *                     JSON text (null when absent or JSON null), the input
  *                     a typed flatten (`from_json`) parses; built only when
  *                     a query requires it
  *   - `source_file`   document name for lineage
  *
  * Scale shape: documents are packed into scan partitions by Spark's own
  * file-split rule ([[GeoJsonDataSource.pack]]: next-fit in input order, up
  * to `FilePartition.maxSplitBytes` per partition, each document charged its
  * bytes plus `spark.sql.files.openCostInBytes`), so a read of many small
  * documents runs one task per core-sized split rather than one per document
  * while a large document keeps a task of its own. Fetch + parse runs on
  * executors (a 100 TB crawl is many documents, not one big one), and column
  * pruning is pushed into the reader (SupportsPushDownRequiredColumns) so a
  * properties-only query never materializes coordinate arrays.
  *
  * Inputs are `load(paths*)` paths or a `url` option, resolved through
  * Hadoop's `Path.getFileSystem`, so a document lives on any filesystem the
  * session's Hadoop conf names (bare paths and `file:` locally, `hdfs:`,
  * `s3a:` and the like elsewhere); a batch read expands a directory into its
  * `.geojson`/`.json` documents, sorted by name
  * ([[GeoJsonDataSource.listDocs]]). `http(s):` urls are the production
  * fetch seam ([[GeoJsonFetch]]) and fail fast in this offline environment
  * with a clear message rather than a stub result.
  */
class GeoJsonDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "geojson"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = GeoJsonDataSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new GeoJsonTable(new CaseInsensitiveStringMap(properties))
}

object GeoJsonDataSource {
  val Schema: StructType = StructType(Seq(
    StructField("feature_idx", LongType, nullable = false),
    StructField("geometry_type", StringType),
    StructField("parts", ArrayType(ArrayType(ArrayType(DoubleType)))),
    StructField("properties", MapType(StringType, StringType)),
    StructField("properties_json", StringType),
    StructField("source_file", StringType),
    // per-feature envelope — null for geometry-less features. An
    // ST_Intersects(query-envelope) predicate decomposes into four plain
    // range comparisons over these, which push through the V1 filter API
    // and prune whole documents via their `.bbox` sidecar (GeoJsonBbox)
    StructField("bbox_minx", DoubleType),
    StructField("bbox_miny", DoubleType),
    StructField("bbox_maxx", DoubleType),
    StructField("bbox_maxy", DoubleType)))

  /** Input documents: explicit load() paths plus the optional fetch url. */
  def inputs(options: CaseInsensitiveStringMap): Seq[String] = {
    val fromPaths = Option(options.get("paths")).toSeq.flatMap { js =>
      new ObjectMapper().readTree(js).elements().asScala.map(_.asText()).toSeq
    }
    val fromPath = Option(options.get("path")).toSeq
    val fromUrl = Option(options.get("url")).toSeq
    val all = fromPaths ++ fromPath ++ fromUrl
    require(all.nonEmpty, "geojson: specify load(path) or option(\"url\", ...)")
    all
  }

  /** A document as one scan resolved it: its path and its byte length. */
  final case class Doc(path: String, bytes: Long) {
    def name: String = path.split('/').last
  }

  /** A Hadoop conf as its plain entries, broadcast to the tasks of a read or
    * write. Spark's `SerializableConfiguration` ships Hadoop's `write` form,
    * which gzips each entry's source list on its own: 4.3 ms for a session's
    * ~1,100 entries against 0.2 ms for the entries alone.
    */
  final case class ConfEntries(entries: Array[(String, String)]) {
    @transient lazy val conf: Configuration = {
      val c = new Configuration(false)
      entries.foreach { case (k, v) => c.set(k, v) }
      c
    }
  }
  def broadcast(conf: Configuration): Broadcast[ConfEntries] = SparkSession.active.sparkContext
    .broadcast(ConfEntries(conf.iterator().asScala.map(e => e.getKey -> e.getValue).toArray))

  /** The `.geojson`/`.json` documents of a directory, sorted by name: a
    * batch read's directory input and a stream's per-batch queue listing
    * (empty while the directory does not exist yet). A directory given as a
    * bare path lists bare paths, the strings older stream checkpoints hold.
    */
  def listDocs(dir: String, conf: Configuration): Seq[Doc] = {
    val p = GeoJsonFetch.path(dir)
    val fs = GeoJsonFetch.fileSystem(p, conf)
    val bare = p.toUri.getScheme == null
    (if (fs.exists(p)) fs.listStatus(p).toSeq else Nil)
      .filter(st => st.isFile && Seq(".geojson", ".json").exists(st.getPath.getName.endsWith))
      .map { st =>
        val doc = if (bare) Path.getPathWithoutSchemeAndAuthority(st.getPath) else st.getPath
        Doc(doc.toString, st.getLen)
      }
      .sortBy(_.path)
  }

  /** Packs the surviving documents into scan partitions by Spark's file-split
    * rule: `maxSplit = min(maxPartitionBytes, max(openCostInBytes,
    * (Σ bytes + n·openCostInBytes) / leaf parallelism))`
    * (`FilePartition.maxSplitBytes`), filled next-fit in input order with
    * each document charged its bytes plus `openCostInBytes`, exactly as a
    * file scan fills its `FilePartition`s. Documents are never split, so one
    * larger than `maxSplit` gets a partition of its own. Pruning happens
    * before this call, so a pruned document is never fetched; input order is
    * kept across partitions.
    */
  def pack(docs: Seq[Doc]): Array[InputPartition] = {
    val openCost = SQLConf.get.filesOpenCostInBytes
    val maxSplit = FilePartition.maxSplitBytes(SparkSession.active,
      docs.map(_.bytes + openCost).sum)
    val parts = Array.newBuilder[InputPartition]
    val current = scala.collection.mutable.ArrayBuffer.empty[String]
    var currentSize = 0L
    def close(): Unit = if (current.nonEmpty) {
      parts += GeoJsonInputPartition(current.toList)
      current.clear(); currentSize = 0L
    }
    docs.foreach { d =>
      if (currentSize + d.bytes > maxSplit) close()
      current += d.path; currentSize += d.bytes + openCost
    }
    close()
    parts.result()
  }
}

/** Resolves a source url/path to document text through its Hadoop
  * filesystem. The `http(s)` branch is where a production deployment plugs
  * its HTTP client (the reference fetches a WFS GetFeature url); this
  * environment has no egress, so it fails fast.
  */
object GeoJsonFetch {
  /** Documents fetched since process start — the connector's cheapest
    * observability metric, and what the pruning specs assert on: a pruned
    * document must never be FETCHED, not merely dropped post-parse.
    */
  val fetches = new java.util.concurrent.atomic.AtomicLong(0L)

  /** A document url as a Hadoop path. `http(s):` fails here, before any
    * filesystem is resolved: Hadoop registers filesystems for those schemes,
    * and resolving one would reach for the network.
    */
  def path(url: String): Path = {
    if (url.startsWith("http://") || url.startsWith("https://"))
      throw new UnsupportedOperationException(
        s"geojson: no network egress in this environment, cannot fetch $url " +
          "(use a file: url or a local path)")
    new Path(url)
  }

  def fetch(url: String, conf: Configuration): String = {
    val p = path(url)
    fetches.incrementAndGet()
    read(fileSystem(p, conf), p)
  }

  /** The filesystem `p` names, minus Hadoop's client-side checksum layer
    * (the local disk's `LocalFileSystem`): parts and sidecars are written
    * without a `.crc` file each, and a document edited in place still reads.
    */
  def fileSystem(p: Path, conf: Configuration): FileSystem = p.getFileSystem(conf) match {
    case fs: ChecksumFileSystem => fs.getRawFileSystem
    case fs => fs
  }

  /** A whole file as UTF-8 text, in one read sized from its status. */
  private[sources] def read(fs: FileSystem, p: Path): String = {
    val bytes = new Array[Byte](Math.toIntExact(fs.getFileStatus(p).getLen))
    val in = fs.open(p)
    try in.readFully(bytes) finally in.close()
    new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
  }
}

class GeoJsonTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = "geojson"
  override def schema(): StructType = GeoJsonDataSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE,
      // the writer reads its input columns by name and ignores the rest
      // (GeoJsonWriteBuilder), so a write need not carry the read schema
      TableCapability.ACCEPT_ANY_SCHEMA)
  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = new java.util.HashMap[String, String](options.asCaseSensitiveMap())
    merged.putAll(caseInsensitiveOptions.asCaseSensitiveMap())
    new GeoJsonScanBuilder(new CaseInsensitiveStringMap(merged))
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GeoJsonWriteBuilder(Option(info.options.get("path")).getOrElse(
      throw new IllegalArgumentException("geojson write: missing path")), info.schema())
}

/** Scan builder with column pruning AND filter pushdown. Two filter shapes
  * are accepted (and then FULLY enforced, so Spark needs no residual):
  *
  *   - `source_file = v` / `source_file IN (...)` — DOCUMENT-level pruning:
  *     non-matching documents are dropped from `planInputPartitions`, so
  *     they are never fetched or parsed at all (the connector's analog of
  *     partition pruning; with a remote fetch seam this skips the network
  *     call, the dominant cost of a scrape ETL).
  *   - `geometry_type = v` / `geometry_type IN (...)` — enforced inside the
  *     partition reader while iterating features, before any row is built.
  *
  * Everything else is returned to Spark to evaluate post-scan. Aggregates
  * and LIMIT are not pushed: every document is fetched and parsed whole
  * either way, so Spark's partial aggregate over the pruned row scan, and
  * its `LocalLimit` that stops pulling a partition at N rows, do the same
  * work without a second scan shape.
  */
class GeoJsonScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
  import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThan, LessThanOrEqual}

  private var required: StructType = GeoJsonDataSource.Schema
  private var pushed: Array[Filter] = Array.empty
  private var fileKeep: Option[Set[String]] = None
  private var geomKeep: Option[Set[String]] = None
  private var geomNonNull = false
  private var bboxPreds: Seq[GeoJsonBbox.BboxPred] = Seq.empty

  private def numVal(v: Any): Option[Double] = v match {
    case d: Double => Some(d)
    case f: Float => Some(f.toDouble)
    case l: Long => Some(l.toDouble)
    case i: Int => Some(i.toDouble)
    case _ => None
  }

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  private def intersect(cur: Option[Set[String]], add: Set[String]): Option[Set[String]] =
    Some(cur.fold(add)(_ intersect add))

  // bbox range predicates are enforced EXACTLY per feature (strictness
  // preserved, null envelope never matches — SQL comparison semantics), so
  // they count as fully pushed: no residual Filter above the scan
  private def bboxPredOf(f: Filter): Option[GeoJsonBbox.BboxPred] = f match {
    case GreaterThanOrEqual(c, v) if GeoJsonBbox.Fields(c) =>
      numVal(v).map(GeoJsonBbox.BboxPred(c, ">=", _))
    case GreaterThan(c, v) if GeoJsonBbox.Fields(c) =>
      numVal(v).map(GeoJsonBbox.BboxPred(c, ">", _))
    case LessThanOrEqual(c, v) if GeoJsonBbox.Fields(c) =>
      numVal(v).map(GeoJsonBbox.BboxPred(c, "<=", _))
    case LessThan(c, v) if GeoJsonBbox.Fields(c) =>
      numVal(v).map(GeoJsonBbox.BboxPred(c, "<", _))
    case _ => None
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, residual) = filters.partition {
      case EqualTo("source_file", _: String) | EqualTo("geometry_type", _: String) => true
      case In("source_file", vs) => vs.forall(_.isInstanceOf[String])
      case In("geometry_type", vs) => vs.forall(_.isInstanceOf[String])
      // Catalyst adds implied IsNotNull alongside every equality — accept
      // them too (source_file is never null; geometry-null features are
      // dropped in the reader), or a residual Filter would re-check every row
      case IsNotNull("source_file") | IsNotNull("geometry_type") => true
      // implied alongside every bbox range comparison; "has an envelope" ⟺
      // "has a geometry with coordinates", enforced with the range preds
      case IsNotNull(c) if GeoJsonBbox.Fields(c) => true
      case f => bboxPredOf(f).nonEmpty
    }
    accepted.foreach {
      case EqualTo("source_file", v: String) => fileKeep = intersect(fileKeep, Set(v))
      case In("source_file", vs) =>
        fileKeep = intersect(fileKeep, vs.map(_.asInstanceOf[String]).toSet)
      case EqualTo("geometry_type", v: String) => geomKeep = intersect(geomKeep, Set(v))
      case In("geometry_type", vs) =>
        geomKeep = intersect(geomKeep, vs.map(_.asInstanceOf[String]).toSet)
      // a bare IsNotNull(geometry_type) is enforced as "has a geometry at all"
      case IsNotNull("geometry_type") => geomNonNull = true
      case IsNotNull(c) if GeoJsonBbox.Fields(c) =>
        // enforced as "envelope exists": matched by requiring env.nonEmpty,
        // which every range pred already implies
        bboxPreds :+= GeoJsonBbox.BboxPred(c, ">=", Double.NegativeInfinity)
      case f => bboxPredOf(f).foreach(p => bboxPreds :+= p)
    }
    pushed = accepted
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new GeoJsonScan(GeoJsonDataSource.inputs(options), required, fileKeep, geomKeep, geomNonNull,
      bboxPreds)
}

class GeoJsonScan(paths: Seq[String], required: StructType,
                  fileKeep: Option[Set[String]] = None,
                  geomKeep: Option[Set[String]] = None,
                  geomNonNull: Boolean = false,
                  bboxPreds: Seq[GeoJsonBbox.BboxPred] = Seq.empty)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  // the session's Hadoop conf, as Spark's own file scans build theirs
  private lazy val conf = SparkSession.active.sessionState.newHadoopConf()
  // `paths` as given to load(), resolved once: each directory expanded by
  // `listDocs`, each file sized from its status; a stream reads its one
  // directory as a queue instead
  private lazy val docs = paths.flatMap { in =>
    val p = GeoJsonFetch.path(in)
    val st = GeoJsonFetch.fileSystem(p, conf).getFileStatus(p)
    if (st.isDirectory) GeoJsonDataSource.listDocs(in, conf)
    else Seq(GeoJsonDataSource.Doc(in, st.getLen))
  }
  // the documents the pushed filters keep: named in the pushed `source_file`
  // values, and with a `.bbox` sidecar, if any, that can meet the pushed
  // envelope predicates (sidecars read once per scan, before any fetch)
  private lazy val kept = docs.filter(d => fileKeep.forall(_.contains(d.name)) &&
    GeoJsonBbox.keepDoc(d.path, bboxPreds, conf))

  /** RUNTIME document pruning (the connector's dynamic partition pruning):
    * when this scan sits under a join on `source_file`, Spark collects the
    * build side's values at execution and calls [[filter]] before
    * [[planInputPartitions]] — non-matching documents are dropped from the
    * plan without ever being fetched or parsed, exactly like the static
    * pushdown path but driven by ANOTHER table's rows.
    */
  private var runtimeKeep: Option[Set[String]] = None
  // only a column the scan still outputs can be advertised: Spark resolves
  // filter attributes against the pruned output, and a join on another
  // column of a scan whose `source_file` was pruned away would fail to plan
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (required.fieldNames.contains("source_file"))
      Array(org.apache.spark.sql.connector.expressions.Expressions.column("source_file"))
    else Array.empty
  override def filter(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    import org.apache.spark.sql.sources.{EqualTo, In}
    filters.foreach {
      case In("source_file", vs) =>
        runtimeKeep = Some(vs.collect { case s: String => s }.toSet)
      case EqualTo("source_file", v: String) => runtimeKeep = Some(Set(v))
      case _ => // unsupported runtime filter shapes are advisory — ignore
    }
  }

  /** Report the PRUNED documents' byte size so Catalyst can plan joins
    * against this source: without it a DSv2 scan defaults to "unknown =
    * enormous" and a 2 KB GeoJSON dimension would never broadcast. Document
    * pruning shrinks the estimate the same way partition pruning shrinks a
    * parquet scan's.
    */
  override def estimateStatistics(): Statistics = {
    val total = java.util.OptionalLong.of(math.max(1L, prunedDocs.map(_.bytes).sum))
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = total
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
    }
  }
  /** Documents surviving the pushed pruning AND any runtime (join-driven)
    * pruning delivered through [[filter]].
    */
  def prunedDocs: Seq[GeoJsonDataSource.Doc] =
    kept.filter(d => runtimeKeep.forall(_.contains(d.name)))
  override def planInputPartitions(): Array[InputPartition] =
    GeoJsonDataSource.pack(prunedDocs)
  // every copy of the physical scan node asks for a reader factory (planning
  // probes `supportsColumnar` through it): broadcast once per scan, not per ask
  private lazy val shipped = GeoJsonDataSource.broadcast(conf)
  override def createReaderFactory(): PartitionReaderFactory =
    new GeoJsonReaderFactory(shipped, required, geomKeep, geomNonNull, bboxPreds)
  override def description(): String =
    s"GeoJsonScan docs=${prunedDocs.size}/${docs.size}" +
      geomKeep.fold("")(g => s" geometry_type IN ${g.mkString("(", ",", ")")}") +
      (if (bboxPreds.isEmpty) "" else s" bbox=${bboxPreds.size} preds")
  override def toMicroBatchStream(checkpointLocation: String):
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(paths.size == 1,
      s"geojson streaming: readStream.load(<one queue directory>), got ${paths.size} paths")
    new GeoJsonMicroBatchStream(paths.head, required, conf)
  }
}

/** The documents one scan task reads, in input order ([[GeoJsonDataSource.pack]]). */
case class GeoJsonInputPartition(docs: Seq[String]) extends InputPartition

/** Walks a packed partition's documents in order, one per-document reader at
  * a time, so `feature_idx` and `source_file` keep their per-document
  * meaning. A document is fetched only when the walk reaches it, so a
  * `LocalLimit` that stops pulling the partition leaves the rest unread.
  */
class GeoJsonDocsReader(partition: InputPartition,
                        open: String => PartitionReader[InternalRow])
    extends PartitionReader[InternalRow] {
  private val docs = partition.asInstanceOf[GeoJsonInputPartition].docs.iterator
  private var current: PartitionReader[InternalRow] = _
  override def next(): Boolean = {
    while (current == null || !current.next()) {
      close()
      if (!docs.hasNext) { current = null; return false }
      current = open(docs.next())
    }
    true
  }
  override def get(): InternalRow = current.get()
  override def close(): Unit = if (current != null) current.close()
}

/** Streaming read over a document-QUEUE directory: each micro-batch picks up
  * the `.geojson`/`.json` files that arrived since the last batch, packed
  * into input partitions by the batch read's file-split rule
  * ([[GeoJsonDataSource.pack]]) and read through the same fetch+parse path,
  * so batch and stream see identical rows for identical documents.
  *
  * Offset model: a lexicographic filename watermark. The queue contract is
  * that producers drop documents (files, not directories: the listing skips
  * a directory such as [[graft.sinks.Sinks.writeGeoJson]]'s output) named in
  * monotonically increasing order, e.g. by timestamp; a file sorting below
  * the committed watermark would be ignored, the same contract every
  * name-ordered file queue has. Listing runs on the driver per batch
  * (one directory listing — no data), parsing runs on executors.
  */
class GeoJsonMicroBatchStream(dir: String, required: StructType, conf: Configuration)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  override def initialOffset(): Offset = GeoJsonStreamOffset("")
  override def latestOffset(): Offset =
    GeoJsonStreamOffset(GeoJsonDataSource.listDocs(dir, conf).lastOption.fold("")(_.path))
  override def deserializeOffset(json: String): Offset =
    GeoJsonStreamOffset(new ObjectMapper().readTree(json).get("watermark").asText())
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[GeoJsonStreamOffset].watermark
    val hi = end.asInstanceOf[GeoJsonStreamOffset].watermark
    GeoJsonDataSource.pack(
      GeoJsonDataSource.listDocs(dir, conf).filter(d => d.path > lo && d.path <= hi))
  }
  private lazy val shipped = GeoJsonDataSource.broadcast(conf)
  override def createReaderFactory(): PartitionReaderFactory =
    new GeoJsonReaderFactory(shipped, required)
}

case class GeoJsonStreamOffset(watermark: String)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = {
    val node = new ObjectMapper().createObjectNode()
    node.put("watermark", watermark)
    node.toString
  }
}

/** DSv2 write path: each task writes its partition as newline-delimited
  * Feature documents to a temp file; commit moves the temp files into
  * place, abort deletes them — a two-phase file commit ([[GeoJsonWrite]]).
  * Tasks and the driver reach the output through Hadoop's `FileSystem`, so
  * the output path may name any filesystem the session's Hadoop conf
  * resolves, and the `.bbox` sidecars land beside the parts on it.
  *
  * Input columns are read by name, in the connector's read types, and any
  * other column is ignored (the table accepts any schema), so both `read →
  * transform → write` and a sink's own projection write through
  * `format("geojson")`:
  *   - `geometry_type` — the geometry's type (LineString when absent or null);
  *   - `parts` — its coordinates in the reader's multi-part form; a null or
  *     absent `parts` writes `"geometry": null`, which reads back as null
  *     `geometry_type` and `parts`;
  *   - `properties_json` — the properties object as JSON text, written
  *     verbatim so values keep their JSON types (null when absent or null).
  * The `properties` map is never written: it holds every value as a string,
  * so writing it would turn `12` into `"12"`. An input that carries it
  * without `properties_json` is refused; one that carries both writes
  * `properties_json` and ignores the map, so a transform that edits the
  * properties must rebuild `properties_json` before the write.
  */
class GeoJsonWriteBuilder(path: String, schema: StructType)
    extends WriteBuilder with SupportsTruncate {
  Seq("geometry_type", "parts", "properties_json").foreach { c =>
    schema.find(_.name == c).foreach { f =>
      val want = GeoJsonDataSource.Schema(c).dataType
      require(DataType.equalsStructurally(f.dataType, want, ignoreNullability = true),
        s"geojson write: column $c is ${f.dataType.simpleString}, expected ${want.simpleString}")
    }
  }
  require(!schema.fieldNames.contains("properties") || schema.fieldNames.contains("properties_json"),
    "geojson write: the properties map holds every value as a string; " +
      "write the properties_json column to keep the values' types")
  private var truncateFirst = false
  override def truncate(): WriteBuilder = { truncateFirst = true; this }
  override def build(): Write = new GeoJsonWrite(path, schema, truncateFirst)
}

/** The batch and the micro-batch write, over one two-phase file commit:
  * tasks write `<path>/_tmp/<attempt>.geojson`; a commit deletes the
  * committed files the write replaces, moves each task file to its final
  * name beside a fresh `.bbox` sidecar, and deletes `_tmp` with anything a
  * killed attempt left in it; abort deletes `_tmp` the same way.
  *
  * A micro-batch writes per-epoch part files (`part-e<epoch>-…`), so a
  * REPLAYED epoch (failure recovery) overwrites its own files instead of
  * duplicating rows — commit is idempotent per epoch, the property a
  * file-based streaming sink needs under the at-least-once commit protocol.
  * Append semantics across epochs; the batch `format("geojson")` reader
  * lists all part files, so streamed output reads back symmetrically.
  */
class GeoJsonWrite(path: String, schema: StructType, truncateFirst: Boolean)
    extends Write with BatchWrite with StreamingWrite {
  private val conf = SparkSession.active.sessionState.newHadoopConf()
  private val dir = new Path(path)
  private val tmpDir = new Path(dir, "_tmp")
  private lazy val fs = GeoJsonFetch.fileSystem(dir, conf)

  override def toBatch: BatchWrite = this
  override def toStreaming: StreamingWrite = this
  // both interfaces default it to true; a class mixing both must pick one
  override def useCommitCoordinator(): Boolean = true

  private def factory(): GeoJsonWriterFactory = {
    fs.mkdirs(tmpDir)
    GeoJsonWriterFactory(path, schema, GeoJsonDataSource.broadcast(conf))
  }
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = factory()
  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    factory()

  // task ids differ between jobs, so overwrite must REMOVE the previous
  // job's part files and their sidecars — replacing by name alone would
  // union the two writes
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    commitClearing(messages)(n => truncateFirst && (n.startsWith("part-") || n.startsWith(".part-")))
  // Idempotence must hold even when the REPLAY produces FEWER partitions
  // than the failed attempt (AQE can re-plan the micro-batch): replacing by
  // name only overwrites matching partition ids, leaving the earlier
  // attempt's higher-numbered part-e<epoch>-* files to duplicate rows on
  // read-back. Clear the epoch's files wholesale first.
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    commitClearing(messages)(_.startsWith(s"part-e$epochId-"))
  override def abort(messages: Array[WriterCommitMessage]): Unit = deleteTmp()
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = deleteTmp()

  private def commitClearing(messages: Array[WriterCommitMessage])(clear: String => Boolean): Unit = {
    fs.listStatus(dir).filter(st => st.isFile && clear(st.getPath.getName))
      .foreach(st => fs.delete(st.getPath, false))
    messages.foreach { case GeoJsonCommitMessage(tmp, fin, bbox) =>
      val dst = new Path(dir, fin)
      // a replayed epoch rewrites its part names, and not every filesystem's
      // rename replaces an existing file
      fs.delete(dst, false)
      if (!fs.rename(new Path(tmp), dst))
        throw new java.io.IOException(s"geojson commit: cannot move $tmp to $dst")
      // lay down the spatial stats beside the data (the z-order analog:
      // the sink writes the pruning statistics its own scan consumes); an
      // envelope-less part (no coordinates) gets no sidecar, and a replaced
      // part's stale sidecar must not outlive it
      fs.delete(new Path(dir, s".$fin.bbox"), false)
      bbox.foreach(GeoJsonBbox.writeSidecar(dst.toString, _, conf))
    }
    deleteTmp()
  }

  private def deleteTmp(): Unit = fs.delete(tmpDir, true)
}

case class GeoJsonCommitMessage(tmpFile: String, finalName: String,
                                bbox: Option[(Double, Double, Double, Double)] = None)
    extends WriterCommitMessage

/** Ships to the tasks, so a top-level case class rather than an anonymous
  * one that would drag the (non-serializable) write along as its $outer.
  */
case class GeoJsonWriterFactory(path: String, schema: StructType,
                                conf: Broadcast[GeoJsonDataSource.ConfEntries])
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GeoJsonDataWriter(path, schema, conf.value.conf,
      tmpName = s"part-$partitionId-$taskId", finalName = s"part-$partitionId-$taskId")
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new GeoJsonDataWriter(path, schema, conf.value.conf,
      tmpName = s"part-e$epochId-$partitionId-$taskId", finalName = s"part-e$epochId-$partitionId")
}

/** `tmpName` must be unique per ATTEMPT (speculative twins must not share a
  * tmp file); `finalName` is the committed name — stable per (epoch,
  * partition) on the streaming path so replayed epochs overwrite themselves.
  */
class GeoJsonDataWriter(path: String, schema: StructType, conf: Configuration,
                        tmpName: String, finalName: String)
    extends DataWriter[InternalRow] {
  private val tmp = new Path(path, s"_tmp/$tmpName.geojson")
  private val fs = GeoJsonFetch.fileSystem(tmp, conf)
  // UTF-8 explicitly — a platform-default charset would corrupt non-ASCII
  // property values against the reader's UTF-8 decode
  private val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
    fs.create(tmp, true), java.nio.charset.StandardCharsets.UTF_8))
  private val mapper = new ObjectMapper()
  private val idx = schema.fieldNames.zipWithIndex.toMap
  // running envelope over every coordinate written — becomes the part
  // file's `.bbox` sidecar at commit
  private var envAcc: Option[GeoJsonBbox.Env] = None

  override def write(row: InternalRow): Unit = {
    val doc = mapper.createObjectNode()
    doc.put("type", "Feature")
    idx.get("parts").filterNot(row.isNullAt) match {
      case Some(i) => geometryInto(doc.putObject("geometry"), row, row.getArray(i))
      case None => doc.putNull("geometry")
    }
    idx.get("properties_json").filterNot(row.isNullAt) match {
      case Some(i) => doc.putRawValue("properties", new RawValue(row.getUTF8String(i).toString))
      case None => doc.putNull("properties")
    }
    out.write(doc.toString)
    out.newLine()
  }

  /** The non-null entries of an array of arrays (a null part or point,
    * which no reader emits, is skipped rather than dereferenced).
    */
  private def arrays(a: ArrayData): Seq[ArrayData] =
    (0 until a.numElements()).filterNot(a.isNullAt).map(a.getArray)

  private def geometryInto(geom: ObjectNode, row: InternalRow, parts: ArrayData): Unit = {
    val gType = idx.get("geometry_type")
      .filterNot(row.isNullAt).map(i => row.getUTF8String(i).toString).getOrElse("LineString")
    geom.put("type", gType)
    val coords = geom.putArray("coordinates")
    def pointInto(arr: ArrayNode, pt: ArrayData): Unit = {
      (0 until pt.numElements()).foreach(k => arr.add(pt.getDouble(k)))
      if (pt.numElements() >= 2) {
        val (x, y) = (pt.getDouble(0), pt.getDouble(1))
        envAcc = Some(GeoJsonBbox.union(envAcc, (x, y, x, y)))
      }
    }
    def lineInto(arr: ArrayNode, part: ArrayData): Unit =
      arrays(part).foreach(pointInto(arr.addArray(), _))
    gType match {
      case "Point" => arrays(parts).flatMap(arrays).headOption.foreach(pointInto(coords, _))
      case "LineString" | "MultiPoint" => arrays(parts).headOption.foreach(lineInto(coords, _))
      // the reader flattened polygons to rings; emit each ring as a one-ring
      // polygon (4-deep coordinates) so the output re-reads through the same
      // MultiPolygon branch symmetrically
      case "MultiPolygon" => arrays(parts).foreach(lineInto(coords.addArray().addArray(), _))
      case _ => arrays(parts).foreach(lineInto(coords.addArray(), _)) // MultiLineString / Polygon rings
    }
  }

  override def commit(): WriterCommitMessage = {
    out.close(); GeoJsonCommitMessage(tmp.toString, s"$finalName.geojson", envAcc)
  }
  override def abort(): Unit = { out.close(); fs.delete(tmp, false) }
  override def close(): Unit = ()
}

class GeoJsonReaderFactory(conf: Broadcast[GeoJsonDataSource.ConfEntries],
                           required: StructType,
                           geomKeep: Option[Set[String]] = None,
                           geomNonNull: Boolean = false,
                           bboxPreds: Seq[GeoJsonBbox.BboxPred] = Seq.empty)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GeoJsonDocsReader(partition,
      new GeoJsonPartitionReader(_, conf.value.conf, required, geomKeep, geomNonNull, bboxPreds))
}

/** Shared document → feature iteration and pushed-filter match, used by the
  * row reader and the `.bbox` indexer so the two can never disagree about
  * what a feature is.
  */
private[sources] object GeoJsonFeatures {
  /** A source document may be ONE value (FeatureCollection / Feature /
    * array) or a newline-delimited stream of Features (the distributed
    * write form) — readValues iterates every top-level value either way.
    */
  def iterate(path: String, conf: Configuration): Iterator[JsonNode] = {
    val mapper = new ObjectMapper()
    val docs = mapper.readValues(
      mapper.createParser(GeoJsonFetch.fetch(path, conf)), classOf[JsonNode]).asScala
    docs.flatMap { root =>
      if (root.isArray) root.elements().asScala
      else if (root.has("features")) root.get("features").elements().asScala
      else Iterator(root)
    }
  }

  /** Geometry type of a feature: None when the geometry is absent, JSON
    * null, or lacks a "type" field. The single accessor shared by filter
    * matching and the row reader — a malformed feature degrades to a null
    * type everywhere instead of NPE-aborting the reader's whole partition.
    */
  def geometryType(f: JsonNode): Option[String] =
    Option(f.get("geometry")).filterNot(_.isNull)
      .flatMap(g => Option(g.get("type"))).filterNot(_.isNull)
      .map(_.asText())

  /** Pushed geometry_type filter semantics: a feature with no geometry has a
    * null type and never matches an equality, same as Spark's EqualTo null
    * semantics; `geomNonNull` enforces a pushed bare IsNotNull the same way.
    * Pushed bbox range predicates evaluate against the feature's envelope
    * with the same null contract (no coordinates → no match); the envelope
    * is computed lazily so predicate-free scans never pay the walk.
    */
  def matches(f: JsonNode, geomKeep: Option[Set[String]],
              geomNonNull: Boolean = false,
              bboxPreds: Seq[GeoJsonBbox.BboxPred] = Seq.empty): Boolean = {
    lazy val geomType = geometryType(f)
    lazy val env = GeoJsonBbox.envelope(f)
    (!geomNonNull || geomType.nonEmpty) &&
      geomKeep.forall(g => geomType.exists(g.contains)) &&
      bboxPreds.forall(_.matchesFeature(env))
  }
}

/** Parses one document and emits its features as InternalRows, building
  * only the pruned columns. A pushed geometry_type filter is enforced here,
  * before any row is built (a feature with no geometry has a null type and
  * never matches, same as Spark's EqualTo null semantics).
  */
class GeoJsonPartitionReader(path: String, conf: Configuration, required: StructType,
                             geomKeep: Option[Set[String]] = None,
                             geomNonNull: Boolean = false,
                             bboxPreds: Seq[GeoJsonBbox.BboxPred] = Seq.empty)
    extends PartitionReader[InternalRow] {

  // whether any requested column needs the feature envelope — computed once,
  // so envelope-free scans never pay the coordinate walk
  private val needEnv = required.fieldNames.exists(GeoJsonBbox.Fields.contains)

  private val fileName = path.split('/').last
  private val features: Iterator[(JsonNode, Long)] =
    GeoJsonFeatures.iterate(path, conf).zipWithIndex.map { case (n, i) => (n, i.toLong) }
  private var current: InternalRow = _

  /** Coordinates of any geometry type, normalized to parts→points, each
    * point keeping every ordinate it has (x, y and any z/m).
    */
  private def partsOf(geom: JsonNode): Array[Array[Array[Double]]] = {
    def pt(n: JsonNode): Array[Double] = n.elements().asScala.map(_.asDouble()).toArray
    def line(n: JsonNode): Array[Array[Double]] = n.elements().asScala.map(pt).toArray
    val c = geom.get("coordinates")
    Option(geom.get("type")).filterNot(_.isNull).map(_.asText()).getOrElse("") match {
      case "Point"                         => Array(Array(pt(c)))
      case "LineString"                    => Array(line(c))
      case "MultiPoint"                    => Array(line(c))
      case "MultiLineString" | "Polygon"   => c.elements().asScala.map(line).toArray
      case "MultiPolygon" =>
        c.elements().asScala.flatMap(p => p.elements().asScala.map(line)).toArray
      case _                               => Array.empty
    }
  }

  private def toRow(f: JsonNode, idx: Long): InternalRow = {
    val geom = Option(f.get("geometry")).filterNot(_.isNull)
    val props = Option(f.get("properties")).filterNot(_.isNull)
    lazy val env = if (needEnv) GeoJsonBbox.envelope(f) else None
    def envCol(pick: GeoJsonBbox.Env => Double): Any =
      env.map(e => pick(e): java.lang.Double).orNull
    val values: Array[Any] = required.fields.map(_.name).map {
      case "feature_idx" => idx
      case "geometry_type" =>
        GeoJsonFeatures.geometryType(f).map(UTF8String.fromString).orNull
      case "parts" =>
        geom.map { g =>
          new GenericArrayData(partsOf(g).map(part =>
            new GenericArrayData(part.map(p =>
              new GenericArrayData(p.map(d => d: Any)): Any)): Any))
        }.orNull
      case "properties" =>
        props.map { props =>
          val kv = props.fields().asScala.toArray.map { e =>
            // JSON null stays a null map value (the writer emits nulls for
            // them, so stringifying would break the round-trip as "null")
            val v: Any =
              if (e.getValue.isNull) null
              else if (e.getValue.isTextual) UTF8String.fromString(e.getValue.asText())
              else UTF8String.fromString(e.getValue.toString)
            (UTF8String.fromString(e.getKey): Any, v)
          }
          new ArrayBasedMapData(new GenericArrayData(kv.map(_._1)), new GenericArrayData(kv.map(_._2)))
        }.orNull
      case "properties_json" => props.map(p => UTF8String.fromString(p.toString)).orNull
      case "source_file" => UTF8String.fromString(fileName)
      case "bbox_minx" => envCol(_._1)
      case "bbox_miny" => envCol(_._2)
      case "bbox_maxx" => envCol(_._3)
      case "bbox_maxy" => envCol(_._4)
      case other => throw new IllegalArgumentException(s"geojson: unknown column $other")
    }
    new GenericInternalRow(values)
  }

  override def next(): Boolean = {
    while (features.hasNext) {
      val (f, i) = features.next()
      if (GeoJsonFeatures.matches(f, geomKeep, geomNonNull, bboxPreds)) {
        current = toRow(f, i); return true
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = ()
}
