package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
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
  * Inputs are `load(paths*)` file paths or a `url` option; a batch read
  * expands a local directory into its `.geojson`/`.json` documents, sorted by
  * name ([[GeoJsonDataSource.listDocs]]). URL fetch goes
  * through [[GeoJsonFetch]]: `file:` URLs (and bare paths) resolve locally;
  * `http(s):` is the production fetch seam and fails fast in this offline
  * environment with a clear message rather than a stub result.
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

  /** The `.geojson`/`.json` documents of a local directory, sorted by name:
    * a batch read's directory input and a stream's per-batch queue listing.
    */
  def listDocs(dir: String): Seq[String] =
    Option(localFile(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && (f.getName.endsWith(".geojson") || f.getName.endsWith(".json")))
      .map(_.getAbsolutePath).sorted.toSeq

  /** Batch inputs with every local directory expanded by [[listDocs]]. */
  def documents(inputs: Seq[String]): Seq[String] =
    inputs.flatMap(p => if (localFile(p).isDirectory) listDocs(p) else Seq(p))

  private def localFile(doc: String): java.io.File =
    new java.io.File(if (doc.startsWith("file:")) new java.net.URI(doc).getPath else doc)

  /** Byte size of a document that resolves to a local file (bare path or
    * `file:` url); None for the remote-fetch seam or a missing file.
    */
  def localSize(doc: String): Option[Long] = {
    val f = localFile(doc)
    if (f.isFile) Some(f.length()) else None
  }

  /** Documents whose file name every keep-set (pushed or runtime
    * `source_file` values) contains and whose `.bbox` sidecar, if any, can
    * meet the pushed envelope predicates; runs on the driver, before fetch.
    */
  def prune(docs: Seq[String], keeps: Seq[Option[Set[String]]],
            bboxPreds: Seq[GeoJsonBbox.BboxPred]): Seq[String] =
    docs.filter(d => keeps.flatten.forall(_.contains(d.split('/').last)))
      .filter(GeoJsonBbox.keepDoc(_, bboxPreds))

  /** Packs the surviving documents into scan partitions by Spark's file-split
    * rule: `maxSplit = min(maxPartitionBytes, max(openCostInBytes,
    * (Σ bytes + n·openCostInBytes) / leaf parallelism))`
    * (`FilePartition.maxSplitBytes`), filled next-fit in input order with
    * each document charged its bytes plus `openCostInBytes`, exactly as a
    * file scan fills its `FilePartition`s. Documents are never split, so one
    * larger than `maxSplit` gets a partition of its own, and so does one that
    * cannot be sized locally. Pruning happens before this call, so a pruned
    * document is never fetched; input order is kept across partitions.
    */
  def pack(docs: Seq[String]): Array[InputPartition] = {
    val openCost = SQLConf.get.filesOpenCostInBytes
    val sized = docs.map(d => d -> localSize(d))
    val maxSplit = FilePartition.maxSplitBytes(SparkSession.active,
      sized.flatMap(_._2).map(_ + openCost).sum)
    val parts = Array.newBuilder[InputPartition]
    val current = scala.collection.mutable.ArrayBuffer.empty[String]
    var currentSize = 0L
    def close(): Unit = if (current.nonEmpty) {
      parts += GeoJsonInputPartition(current.toList)
      current.clear(); currentSize = 0L
    }
    sized.foreach {
      case (doc, Some(bytes)) =>
        if (currentSize + bytes > maxSplit) close()
        current += doc; currentSize += bytes + openCost
      case (doc, None) =>
        close(); parts += GeoJsonInputPartition(Seq(doc))
    }
    close()
    parts.result()
  }
}

/** Resolves a source url/path to document text. The `http(s)` branch is where
  * a production deployment plugs its HTTP client (the reference fetches a WFS
  * GetFeature url); this environment has no egress, so it fails fast.
  */
object GeoJsonFetch {
  /** Documents fetched since process start — the connector's cheapest
    * observability metric, and what the pruning specs assert on: a pruned
    * document must never be FETCHED, not merely dropped post-parse.
    */
  val fetches = new java.util.concurrent.atomic.AtomicLong(0L)

  def fetch(url: String): String = {
    if (url.startsWith("http://") || url.startsWith("https://"))
      throw new UnsupportedOperationException(
        s"geojson: no network egress in this environment, cannot fetch $url " +
          "(use a file: url or a local path)")
    fetches.incrementAndGet()
    val path = if (url.startsWith("file:")) new java.net.URI(url).getPath else url
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
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
      TableCapability.TRUNCATE)
  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = new java.util.HashMap[String, String](options.asCaseSensitiveMap())
    merged.putAll(caseInsensitiveOptions.asCaseSensitiveMap())
    new GeoJsonScanBuilder(new CaseInsensitiveStringMap(merged))
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GeoJsonWriteBuilder(
      Option(info.options.get("path")).getOrElse(
        throw new IllegalArgumentException("geojson write: missing path")),
      info.schema())
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
  * Everything else is returned to Spark to evaluate post-scan.
  */
class GeoJsonScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit {
  import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThan, LessThanOrEqual}
  import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}

  private var required: StructType = GeoJsonDataSource.Schema
  private var pushed: Array[Filter] = Array.empty
  private var fileKeep: Option[Set[String]] = None
  private var geomKeep: Option[Set[String]] = None
  private var geomNonNull = false
  private var bboxPreds: Seq[GeoJsonBbox.BboxPred] = Seq.empty
  private var countStar = false
  private var groupByGeom = false
  private var limit: Option[Int] = None

  private def numVal(v: Any): Option[Double] = v match {
    case d: Double => Some(d)
    case f: Float => Some(f.toDouble)
    case l: Long => Some(l.toDouble)
    case i: Int => Some(i.toDouble)
    case _ => None
  }

  /** LIMIT pushdown, PARTIAL (per-document): each per-document reader stops
    * building rows after `limit` matching features. It saves row building,
    * not parsing: [[GeoJsonFetch.fetch]] reads the whole file and a
    * FeatureCollection or bare array is read as one JSON tree before the
    * first row. Declared partial so Spark keeps its global Limit above the
    * scan (several documents each emit up to `limit` rows).
    */
  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }
  override def isPartiallyPushed(): Boolean = true

  /** COUNT(*) pushdown (Spark only offers an aggregate here when every
    * filter was fully pushed, which this builder guarantees for the shapes
    * it accepts): the scan then emits ONE pre-counted row per document —
    * features are tallied over the parsed document and no feature row,
    * geometry array or property map is ever built. The document is still
    * fetched and parsed whole, so this saves row building, not parsing.
    * Partial pushdown: Spark still sums the per-document counts, so
    * multi-document reads stay parallel.
    */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    val aggs = aggregation.aggregateExpressions()
    val gbs = aggregation.groupByExpressions()
    val oneCountStar = aggs.length == 1 && aggs(0).isInstanceOf[CountStar]
    countStar = gbs.isEmpty && oneCountStar
    // GROUP BY geometry_type COUNT(*) — the reference viewer's categorical
    // count — tallied over the parsed document into a per-type map (bounded
    // by the handful of GeoJSON geometry types), one row per (document,
    // type), no feature row ever built. Partial pushdown like the plain count:
    // Spark sums the per-document tallies, so multi-document reads stay
    // parallel and the final grouping is exact.
    groupByGeom = !countStar && oneCountStar && gbs.length == 1 && (gbs(0) match {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference =>
        nr.fieldNames.sameElements(Array("geometry_type"))
      case _ => false
    })
    countStar || groupByGeom
  }

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  private def intersect(cur: Option[Set[String]], add: Set[String]): Option[Set[String]] =
    Some(cur.fold(add)(_ intersect add))

  // bbox range predicates are enforced EXACTLY per feature (strictness
  // preserved, null envelope never matches — SQL comparison semantics), so
  // they count as fully pushed: no residual Filter, and aggregate pushdown
  // stays available under a spatial predicate
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
      // dropped in the reader), or the leftover residual Filter would block
      // aggregate pushdown for filtered counts
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

  // a bare IsNotNull(geometry_type) with no equality is enforced as
  // "has a geometry at all" — matches() with an empty keep-set constraint
  private def effectiveGeomKeep: (Option[Set[String]], Boolean) = (geomKeep, geomNonNull)

  override def build(): Scan = {
    val (gk, gnn) = effectiveGeomKeep
    def docs = GeoJsonDataSource.documents(GeoJsonDataSource.inputs(options))
    if (countStar)
      new GeoJsonCountScan(docs, fileKeep, gk, gnn, bboxPreds)
    else if (groupByGeom)
      new GeoJsonGroupCountScan(docs, fileKeep, gk, gnn, bboxPreds)
    else
      new GeoJsonScan(GeoJsonDataSource.inputs(options), required, fileKeep, gk, gnn, limit,
        bboxPreds)
  }
}

/** The COUNT(*)-pushed scan: same document pruning and packing as the row
  * scan, but each partition returns one row per packed document holding that
  * document's matching-feature count. The schema is the aggregation's output
  * schema (one non-null LONG), which is what `SupportsPushDownAggregates`
  * requires of a partial pushdown.
  */
class GeoJsonCountScan(paths: Seq[String], fileKeep: Option[Set[String]],
                       geomKeep: Option[Set[String]],
                       geomNonNull: Boolean = false,
                       bboxPreds: Seq[GeoJsonBbox.BboxPred] = Seq.empty)
    extends Scan with Batch {
  override def readSchema(): StructType =
    new StructType().add("count(*)", LongType, nullable = false)
  override def toBatch: Batch = this
  private def prunedPaths: Seq[String] =
    GeoJsonDataSource.prune(paths, Seq(fileKeep), bboxPreds)
  override def planInputPartitions(): Array[InputPartition] =
    GeoJsonDataSource.pack(prunedPaths)
  override def createReaderFactory(): PartitionReaderFactory =
    new GeoJsonCountReaderFactory(geomKeep, geomNonNull, bboxPreds)
  override def description(): String =
    s"GeoJsonCountScan docs=${prunedPaths.size}/${paths.size} pushed=COUNT(*)" +
      geomKeep.fold("")(g => s" geometry_type IN ${g.mkString("(", ",", ")")}") +
      (if (bboxPreds.isEmpty) "" else s" bbox=${bboxPreds.size} preds")
}

class GeoJsonCountReaderFactory(geomKeep: Option[Set[String]],
                                geomNonNull: Boolean = false,
                                bboxPreds: Seq[GeoJsonBbox.BboxPred] = Seq.empty)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GeoJsonDocsReader(partition,
      new GeoJsonCountReader(_, geomKeep, geomNonNull, bboxPreds))
}

/** Counts matching features in one document without building any row. */
class GeoJsonCountReader(path: String, geomKeep: Option[Set[String]],
                         geomNonNull: Boolean = false,
                         bboxPreds: Seq[GeoJsonBbox.BboxPred] = Seq.empty)
    extends PartitionReader[InternalRow] {
  private var count = 0L
  private var emitted = false
  override def next(): Boolean =
    if (emitted) false
    else {
      GeoJsonFeatures.iterate(path)
        .foreach(f => if (GeoJsonFeatures.matches(f, geomKeep, geomNonNull, bboxPreds)) count += 1)
      emitted = true
      true
    }
  override def get(): InternalRow = new GenericInternalRow(Array[Any](count))
  override def close(): Unit = ()
}

/** The GROUP BY geometry_type COUNT(*)-pushed scan: same document pruning and
  * packing as the row scan; each partition returns one row per geometry type
  * seen in each of its documents (null included — a feature with no geometry
  * groups under null exactly as the row scan + aggregate would). Output schema
  * is the grouping column followed by the count, the layout
  * `SupportsPushDownAggregates` requires of a partial group-by pushdown.
  */
class GeoJsonGroupCountScan(paths: Seq[String], fileKeep: Option[Set[String]],
                            geomKeep: Option[Set[String]],
                            geomNonNull: Boolean = false,
                            bboxPreds: Seq[GeoJsonBbox.BboxPred] = Seq.empty)
    extends Scan with Batch {
  override def readSchema(): StructType =
    new StructType().add("geometry_type", StringType)
      .add("count(*)", LongType, nullable = false)
  override def toBatch: Batch = this
  private def prunedPaths: Seq[String] =
    GeoJsonDataSource.prune(paths, Seq(fileKeep), bboxPreds)
  override def planInputPartitions(): Array[InputPartition] =
    GeoJsonDataSource.pack(prunedPaths)
  override def createReaderFactory(): PartitionReaderFactory =
    new GeoJsonGroupCountReaderFactory(geomKeep, geomNonNull, bboxPreds)
  override def description(): String =
    s"GeoJsonGroupCountScan docs=${prunedPaths.size}/${paths.size} " +
      "pushed=GROUP BY geometry_type COUNT(*)" +
      geomKeep.fold("")(g => s" geometry_type IN ${g.mkString("(", ",", ")")}")
}

class GeoJsonGroupCountReaderFactory(geomKeep: Option[Set[String]],
                                     geomNonNull: Boolean = false,
                                     bboxPreds: Seq[GeoJsonBbox.BboxPred] = Seq.empty)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GeoJsonDocsReader(partition,
      new GeoJsonGroupCountReader(_, geomKeep, geomNonNull, bboxPreds))
}

/** Tallies matching features per geometry type in one document without
  * building any feature row; emission order is first-seen (deterministic for
  * a given document — Spark's final aggregate owns the global order anyway).
  */
class GeoJsonGroupCountReader(path: String, geomKeep: Option[Set[String]],
                              geomNonNull: Boolean = false,
                              bboxPreds: Seq[GeoJsonBbox.BboxPred] = Seq.empty)
    extends PartitionReader[InternalRow] {
  private var rows: Iterator[InternalRow] = _
  private var current: InternalRow = _
  override def next(): Boolean = {
    if (rows == null) {
      val tally = new java.util.LinkedHashMap[Option[String], Long]()
      GeoJsonFeatures.iterate(path).foreach { f =>
        if (GeoJsonFeatures.matches(f, geomKeep, geomNonNull, bboxPreds)) {
          tally.merge(GeoJsonFeatures.geometryType(f), 1L, (a, b) => a + b)
        }
      }
      rows = tally.entrySet().iterator().asScala.map { e =>
        val gt: Any = e.getKey
          .map(org.apache.spark.unsafe.types.UTF8String.fromString).orNull
        new GenericInternalRow(Array[Any](gt, e.getValue)): InternalRow
      }
    }
    if (rows.hasNext) { current = rows.next(); true } else false
  }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

class GeoJsonScan(paths: Seq[String], required: StructType,
                  fileKeep: Option[Set[String]] = None,
                  geomKeep: Option[Set[String]] = None,
                  geomNonNull: Boolean = false,
                  limit: Option[Int] = None,
                  bboxPreds: Seq[GeoJsonBbox.BboxPred] = Seq.empty)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  // `paths` as given to load(); a stream reads its one directory as a queue
  private lazy val docs = GeoJsonDataSource.documents(paths)

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
    * enormous" and a 2 KB GeoJSON dimension would never broadcast. Only
    * local files are sized (the remote-fetch seam reports unknown rather
    * than guessing), and document pruning shrinks the estimate the same way
    * partition pruning shrinks a parquet scan's.
    */
  override def estimateStatistics(): Statistics = {
    val sizes = prunedPaths.map(GeoJsonDataSource.localSize)
    val total = if (sizes.exists(_.isEmpty)) java.util.OptionalLong.empty()
                else java.util.OptionalLong.of(math.max(1L, sizes.flatten.sum))
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = total
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
    }
  }
  /** Documents surviving the pushed source_file pruning AND any runtime
    * (join-driven) pruning delivered through [[filter]].
    */
  def prunedPaths: Seq[String] =
    GeoJsonDataSource.prune(docs, Seq(fileKeep, runtimeKeep), bboxPreds)
  override def planInputPartitions(): Array[InputPartition] =
    GeoJsonDataSource.pack(prunedPaths)
  override def createReaderFactory(): PartitionReaderFactory =
    new GeoJsonReaderFactory(required, geomKeep, geomNonNull, limit, bboxPreds)
  override def description(): String =
    s"GeoJsonScan docs=${prunedPaths.size}/${docs.size}" +
      geomKeep.fold("")(g => s" geometry_type IN ${g.mkString("(", ",", ")")}") +
      limit.fold("")(l => s" limit=$l") +
      (if (bboxPreds.isEmpty) "" else s" bbox=${bboxPreds.size} preds")
  override def toMicroBatchStream(checkpointLocation: String):
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(paths.size == 1,
      s"geojson streaming: readStream.load(<one queue directory>), got ${paths.size} paths")
    new GeoJsonMicroBatchStream(paths.head, required)
  }
}

/** The documents one scan task reads, in input order ([[GeoJsonDataSource.pack]]). */
case class GeoJsonInputPartition(docs: Seq[String]) extends InputPartition

/** Walks a packed partition's documents in order, one per-document reader at
  * a time, so `feature_idx`, `source_file`, the pushed filters, the LIMIT cap
  * and the COUNT / GROUP BY tallies keep their per-document meaning. A
  * document is fetched only when the walk reaches it.
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
  * that producers name files in monotonically increasing order (timestamped
  * names — exactly what [[graft.sinks.Sinks.writeGeoJson]] emits); a file
  * sorting below the committed watermark would be ignored, the same contract
  * every name-ordered file queue has. Listing runs on the driver per batch
  * (one directory listing — no data), parsing runs on executors.
  */
class GeoJsonMicroBatchStream(dir: String, required: StructType)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  override def initialOffset(): Offset = GeoJsonStreamOffset("")
  override def latestOffset(): Offset =
    GeoJsonStreamOffset(GeoJsonDataSource.listDocs(dir).lastOption.getOrElse(""))
  override def deserializeOffset(json: String): Offset =
    GeoJsonStreamOffset(new ObjectMapper().readTree(json).get("watermark").asText())
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[GeoJsonStreamOffset].watermark
    val hi = end.asInstanceOf[GeoJsonStreamOffset].watermark
    GeoJsonDataSource.pack(GeoJsonDataSource.listDocs(dir).filter(p => p > lo && p <= hi))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new GeoJsonReaderFactory(required)
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
  * Feature documents to a temp file; commit atomically moves the temp files
  * into place, abort deletes them — a two-phase file commit.
  *
  * Deployment constraint: tasks write and the driver moves through
  * `java.io` paths, which is only correct when driver and executors share a
  * filesystem (local mode, NFS). On a multi-node cluster with per-node local
  * disks the driver-side move would find no temp files — a cluster port
  * should route these file ops through the Hadoop FileSystem API against a
  * shared scheme (hdfs:/s3:), as the sibling parquet-based sinks already do.
  * Input rows must carry the connector's normalized schema (geometry_type,
  * parts, properties; other columns are ignored), so `read → transform →
  * write` round-trips through `format("geojson")` symmetrically.
  */
class GeoJsonWriteBuilder(path: String, schema: StructType)
    extends WriteBuilder with SupportsTruncate {
  private var truncateFirst = false
  override def truncate(): WriteBuilder = { truncateFirst = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new GeoJsonBatchWrite(path, schema, truncateFirst)
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      new GeoJsonStreamingWrite(path, schema)
  }
}

/** Micro-batch streaming sink: per-epoch part files (`part-e<epoch>-…`), so a
  * REPLAYED epoch (failure recovery) overwrites its own files instead of
  * duplicating rows — commit is idempotent per epoch, the property a
  * file-based streaming sink needs under the at-least-once commit protocol.
  * Append semantics across epochs; the batch `format("geojson")` reader
  * lists all part files, so streamed output reads back symmetrically.
  */
class GeoJsonStreamingWrite(path: String, schema: StructType)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory
  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    new java.io.File(path, "_tmp").mkdirs()
    // top-level case class, NOT an anonymous inner class: the factory ships
    // to executors and must not drag the (non-serializable) StreamingWrite
    // along as its $outer
    GeoJsonStreamingWriterFactory(path, schema)
  }
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    // Idempotence must hold even when the REPLAY produces FEWER partitions
    // than the failed attempt (AQE can re-plan the micro-batch): per-file
    // REPLACE_EXISTING only overwrites matching partition ids, leaving the
    // earlier attempt's higher-numbered part-e<epoch>-* files to duplicate
    // rows on read-back. Clear the epoch's files wholesale first.
    Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.startsWith(s"part-e$epochId-"))
      .foreach(_.delete())
    messages.foreach { case GeoJsonCommitMessage(tmp, fin, bbox) =>
      val dst = new java.io.File(path, fin)
      java.nio.file.Files.move(new java.io.File(tmp).toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // same spatial-stats contract as the batch sink; the wholesale epoch
      // clear above already removed any stale sidecar-less state, and a
      // replayed epoch rewrites its sidecars with its own envelopes
      new java.io.File(path, "." + fin + ".bbox").delete()
      bbox.foreach(GeoJsonBbox.writeSidecar(dst.getPath, _))
    }
  }
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    // the DSv2 contract allows null slots for writers that never committed —
    // pattern-matching them would throw MatchError and mask the original
    // failure (same latent pattern fixed in the batch path)
    messages.collect { case GeoJsonCommitMessage(tmp, _, _) => new java.io.File(tmp).delete() }
    new java.io.File(path, "_tmp").delete()
  }
}

case class GeoJsonCommitMessage(tmpFile: String, finalName: String,
                                bbox: Option[(Double, Double, Double, Double)] = None)
    extends WriterCommitMessage

class GeoJsonBatchWrite(path: String, schema: StructType, truncateFirst: Boolean)
    extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    new java.io.File(path, "_tmp").mkdirs()
    new GeoJsonWriterFactory(path, schema)
  }
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // task ids differ between jobs, so overwrite must REMOVE the previous
    // job's part files — REPLACE_EXISTING alone would union the two writes
    if (truncateFirst)
      Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.startsWith("part-")).foreach(_.delete())
    messages.foreach { case GeoJsonCommitMessage(tmp, fin, bbox) =>
      val dst = new java.io.File(path, fin)
      java.nio.file.Files.move(new java.io.File(tmp).toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // lay down the spatial stats beside the data (the z-order analog:
      // the sink writes the pruning statistics its own scan consumes);
      // an envelope-less part (no coordinates) gets no sidecar, and a
      // replaced part's stale sidecar must not outlive it
      new java.io.File(path, "." + fin + ".bbox").delete()
      bbox.foreach(GeoJsonBbox.writeSidecar(dst.getPath, _))
    }
    new java.io.File(path, "_tmp").delete()
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    // collect, not foreach: null slots (writers that never committed) are
    // allowed by the DSv2 contract and must not MatchError
    messages.collect { case GeoJsonCommitMessage(tmp, _, _) => new java.io.File(tmp).delete() }
    new java.io.File(path, "_tmp").delete()
  }
}

case class GeoJsonStreamingWriterFactory(path: String, schema: StructType)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] =
    new GeoJsonDataWriter(path, schema,
      tmpName = s"part-e$epochId-$partitionId-$taskId",
      finalName = s"part-e$epochId-$partitionId")
}

class GeoJsonWriterFactory(path: String, schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GeoJsonDataWriter(path, schema,
      tmpName = s"part-$partitionId-$taskId", finalName = s"part-$partitionId-$taskId")
}

/** `tmpName` must be unique per ATTEMPT (speculative twins must not share a
  * tmp file); `finalName` is the committed name — stable per (epoch,
  * partition) on the streaming path so replayed epochs overwrite themselves.
  */
class GeoJsonDataWriter(path: String, schema: StructType, tmpName: String, finalName: String)
    extends DataWriter[InternalRow] {
  private val tmp = new java.io.File(s"$path/_tmp/$tmpName.geojson")
  // UTF-8 explicitly — FileWriter's platform-default charset would corrupt
  // non-ASCII property values against the reader's UTF-8 decode
  private val out = java.nio.file.Files.newBufferedWriter(
    tmp.toPath, java.nio.charset.StandardCharsets.UTF_8)
  private val mapper = new ObjectMapper()
  private val idx = schema.fieldNames.zipWithIndex.toMap
  // running envelope over every coordinate written — becomes the part
  // file's `.bbox` sidecar at commit
  private var envAcc: Option[GeoJsonBbox.Env] = None
  private def growEnv(x: Double, y: Double): Unit = envAcc = Some(envAcc match {
    case None => (x, y, x, y)
    case Some((a, b, c, d)) =>
      (math.min(a, x), math.min(b, y), math.max(c, x), math.max(d, y))
  })

  override def write(row: InternalRow): Unit = {
    val doc = mapper.createObjectNode()
    doc.put("type", "Feature")
    val geom = doc.putObject("geometry")
    val gType = idx.get("geometry_type")
      .filterNot(row.isNullAt).map(i => row.getUTF8String(i).toString).getOrElse("LineString")
    geom.put("type", gType)
    val coords = geom.putArray("coordinates")
    idx.get("parts").filterNot(row.isNullAt).foreach { i =>
      val parts = row.getArray(i)
      def lineInto(arr: com.fasterxml.jackson.databind.node.ArrayNode,
                   part: org.apache.spark.sql.catalyst.util.ArrayData): Unit =
        (0 until part.numElements()).foreach { p =>
          val pt = part.getArray(p)
          val ptNode = arr.addArray()
          (0 until pt.numElements()).foreach(k => ptNode.add(pt.getDouble(k)))
          if (pt.numElements() >= 2) growEnv(pt.getDouble(0), pt.getDouble(1))
        }
      gType match {
        case "Point" =>
          val pt = parts.getArray(0).getArray(0)
          (0 until pt.numElements()).foreach(k => coords.add(pt.getDouble(k)))
          if (pt.numElements() >= 2) growEnv(pt.getDouble(0), pt.getDouble(1))
        case "LineString" | "MultiPoint" =>
          lineInto(coords, parts.getArray(0))
        case "MultiPolygon" =>
          // the reader flattened polygons to rings; emit each ring as a
          // one-ring polygon (4-deep coordinates) so the output re-reads
          // through the same MultiPolygon branch symmetrically
          (0 until parts.numElements()).foreach { j =>
            lineInto(coords.addArray().addArray(), parts.getArray(j))
          }
        case _ => // MultiLineString / Polygon rings
          (0 until parts.numElements()).foreach { j =>
            lineInto(coords.addArray(), parts.getArray(j))
          }
      }
    }
    val props = doc.putObject("properties")
    idx.get("properties").filterNot(row.isNullAt).foreach { i =>
      val m = row.getMap(i)
      (0 until m.numElements()).foreach { k =>
        val key = m.keyArray().getUTF8String(k).toString
        if (m.valueArray().isNullAt(k)) props.putNull(key)
        else props.put(key, m.valueArray().getUTF8String(k).toString)
      }
    }
    out.write(doc.toString)
    out.newLine()
  }

  override def commit(): WriterCommitMessage = {
    out.close(); GeoJsonCommitMessage(tmp.getAbsolutePath, s"$finalName.geojson", envAcc)
  }
  override def abort(): Unit = { out.close(); tmp.delete() }
  override def close(): Unit = ()
}

class GeoJsonReaderFactory(required: StructType,
                           geomKeep: Option[Set[String]] = None,
                           geomNonNull: Boolean = false,
                           limit: Option[Int] = None,
                           bboxPreds: Seq[GeoJsonBbox.BboxPred] = Seq.empty)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GeoJsonDocsReader(partition,
      new GeoJsonPartitionReader(_, required, geomKeep, geomNonNull, limit, bboxPreds))
}

/** Shared document → feature iteration and pushed-filter match, used by both
  * the row reader and the count reader so the two paths can never disagree
  * about what a feature is.
  */
private[sources] object GeoJsonFeatures {
  /** A source document may be ONE value (FeatureCollection / Feature /
    * array) or a newline-delimited stream of Features (the distributed
    * write form) — readValues iterates every top-level value either way.
    */
  def iterate(path: String): Iterator[JsonNode] = {
    val mapper = new ObjectMapper()
    val docs = mapper.readValues(
      mapper.createParser(GeoJsonFetch.fetch(path)), classOf[JsonNode]).asScala
    docs.flatMap { root =>
      if (root.isArray) root.elements().asScala
      else if (root.has("features")) root.get("features").elements().asScala
      else Iterator(root)
    }
  }

  /** Geometry type of a feature: None when the geometry is absent, JSON
    * null, or lacks a "type" field. The single accessor shared by filter
    * matching, the row reader and the group-count reader — a malformed
    * feature degrades to a null type everywhere instead of NPE-aborting
    * one reader's whole partition.
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
class GeoJsonPartitionReader(path: String, required: StructType,
                             geomKeep: Option[Set[String]] = None,
                             geomNonNull: Boolean = false,
                             limit: Option[Int] = None,
                             bboxPreds: Seq[GeoJsonBbox.BboxPred] = Seq.empty)
    extends PartitionReader[InternalRow] {

  // whether any requested column needs the feature envelope — computed once,
  // so envelope-free scans never pay the coordinate walk
  private val needEnv = required.fieldNames.exists(GeoJsonBbox.Fields.contains)

  // rows emitted so far — the pushed-limit cap. The document was fetched
  // whole and a FeatureCollection or array parsed as one tree, so the cap
  // saves building rows, not reading the document.
  private var emitted = 0L

  private val fileName = path.split('/').last
  private val features: Iterator[(JsonNode, Long)] =
    GeoJsonFeatures.iterate(path).zipWithIndex.map { case (n, i) => (n, i.toLong) }
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
    if (limit.exists(emitted >= _)) return false
    while (features.hasNext) {
      val (f, i) = features.next()
      if (GeoJsonFeatures.matches(f, geomKeep, geomNonNull, bboxPreds)) {
        current = toRow(f, i); emitted += 1; return true
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = ()
}
