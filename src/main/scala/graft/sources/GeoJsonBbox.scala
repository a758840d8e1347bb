package graft.sources

import com.fasterxml.jackson.databind.JsonNode
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import scala.jdk.CollectionConverters._

/** Spatial bbox pushdown support for the GeoJSON connector — the geo-analog
  * of parquet min/max file-stats pruning (the q_zorder layout story): each
  * document can carry a tiny `<doc>.bbox` SIDECAR holding its feature-union
  * envelope; an `ST_Intersects`-style query arrives as four plain range
  * predicates over the per-feature `bbox_minx/miny/maxx/maxy` columns
  * (envelope intersection ⟺ `bbox_maxx >= qminx AND bbox_minx <= qmaxx AND
  * bbox_maxy >= qminy AND bbox_miny <= qmaxy` — ordinary Catalyst
  * comparisons, so they push through the DSv2 V1-filter API with no custom
  * expression), and the scan drops every document whose sidecar envelope
  * cannot satisfy them BEFORE the document is fetched or parsed. Documents
  * without a sidecar are always read — pruning is an optimization, never a
  * correctness gate.
  */
object GeoJsonBbox {

  /** (minx, miny, maxx, maxy). */
  type Env = (Double, Double, Double, Double)

  /** One pushed range predicate over a per-feature bbox column. `op` is one
    * of ">=", ">", "<=", "<" — evaluated EXACTLY (strictness preserved), so
    * the builder reports these filters as fully pushed and Spark plans no
    * residual Filter above the scan.
    */
  final case class BboxPred(field: String, op: String, value: Double) {
    private def cmp(x: Double): Boolean = op match {
      case ">=" => x >= value
      case ">"  => x > value
      case "<=" => x <= value
      case "<"  => x < value
    }
    /** Feature-level: SQL comparison semantics — a feature with no
      * geometry has null bbox columns and never matches.
      */
    def matchesFeature(env: Option[Env]): Boolean = env.exists { e =>
      cmp(field match {
        case "bbox_minx" => e._1
        case "bbox_miny" => e._2
        case "bbox_maxx" => e._3
        case "bbox_maxy" => e._4
      })
    }
    /** Document-level satisfiability against the doc's UNION envelope: a
      * feature's per-axis values range within the doc's [min, max] on that
      * axis, so "some feature could match" tests the doc bound that
      * maximizes satisfiability — the axis max for >=/>, the axis min for
      * <=/< — conservative by construction (never prunes a doc that could
      * hold a matching feature).
      */
    def satisfiableForDoc(doc: Env): Boolean = {
      val x = field == "bbox_minx" || field == "bbox_maxx"
      cmp(op match {
        case ">=" | ">" => if (x) doc._3 else doc._4
        case _          => if (x) doc._1 else doc._2
      })
    }
  }

  val Fields: Set[String] = Set("bbox_minx", "bbox_miny", "bbox_maxx", "bbox_maxy")

  /** Envelope of one feature's geometry: a recursive walk over the
    * `coordinates` nesting (any GeoJSON geometry type — a position is the
    * first array level whose head is numeric). None when the geometry is
    * absent, null, or empty — the same degrade contract as
    * [[GeoJsonFeatures.geometryType]].
    */
  def envelope(f: JsonNode): Option[Env] = {
    val coords = Option(f.get("geometry")).filterNot(_.isNull)
      .flatMap(g => Option(g.get("coordinates"))).filterNot(_.isNull)
    var minx = Double.PositiveInfinity; var miny = Double.PositiveInfinity
    var maxx = Double.NegativeInfinity; var maxy = Double.NegativeInfinity
    var n = 0
    def walk(node: JsonNode): Unit = if (node.isArray && node.size() > 0) {
      if (node.get(0).isNumber) {
        if (node.size() >= 2) {
          val x = node.get(0).asDouble(); val y = node.get(1).asDouble()
          if (x < minx) minx = x; if (x > maxx) maxx = x
          if (y < miny) miny = y; if (y > maxy) maxy = y
          n += 1
        }
      } else node.elements().asScala.foreach(walk)
    }
    coords.foreach(walk)
    if (n == 0) None else Some((minx, miny, maxx, maxy))
  }

  /** Sidecars are HIDDEN dotfiles beside the document (`.<name>.bbox`) so
    * nothing that lists data files — `part-*` listings, the streaming
    * queue's `.json` suffix filter, glob loads — ever mistakes one for a
    * document.
    */
  private def sidecar(doc: Path): Path = new Path(doc.getParent, s".${doc.getName}.bbox")

  /** Read a document's sidecar envelope; None when absent/unreadable OR
    * STALE (the document is then read normally — stats are advisory, never
    * a correctness gate). Staleness check: the sidecar records the document's
    * CONTENT STAMP (byte length + mtime + a bounded head/tail CRC) at index
    * time; a mismatch with the current document means the document was
    * rewritten after indexing and a stale envelope could wrongly prune a
    * document whose NEW features match the pushed predicates — degrade to
    * "read the document". The stamp (rather than a relative mtime
    * comparison) also catches an in-place rewrite landing in the same
    * filesystem mtime tick as the sidecar and a backdated rewrite of a
    * future-dated document, which relative-mtime ordering reads as fresh;
    * the CRC closes the last edge (a SAME-LENGTH rewrite pinned back to the
    * recorded mtime) while staying O(128 KB) per validation — a full-content
    * hash would re-read the document the sidecar exists to avoid. Legacy
    * 4/6-field sidecars (no stamp / no CRC) are treated as stale.
    */
  def sidecarOf(docPath: String, conf: Configuration): Option[Env] =
    try {
      val doc = new Path(docPath)
      val fs = GeoJsonFetch.fileSystem(doc, conf)
      val parts = GeoJsonFetch.read(fs, sidecar(doc)).trim.split(",")
      if (parts.length != 7 || parts.drop(4).map(_.toLong).toSeq != stamp(fs, doc)) None
      else Some((parts(0).toDouble, parts(1).toDouble, parts(2).toDouble, parts(3).toDouble))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** A document's content stamp: byte length, mtime, head/tail CRC. */
  private def stamp(fs: FileSystem, doc: Path): Seq[Long] = {
    val st = fs.getFileStatus(doc)
    Seq(st.getLen, st.getModificationTime, headTailCrc(fs, doc, st.getLen))
  }

  /** CRC32 over the first and last 64 KB of the document — a bounded-I/O
    * content fingerprint (≤128 KB read however large the document), enough
    * to catch any realistic same-length in-place rewrite; combined with the
    * exact length it can only be defeated by a rewrite that preserves
    * length, mtime, AND both 64 KB windows.
    */
  private def headTailCrc(fs: FileSystem, doc: Path, len: Long): Long = {
    val crc = new java.util.zip.CRC32()
    val in = fs.open(doc)
    try {
      val head = new Array[Byte](math.min(len, 65536L).toInt)
      in.readFully(head)
      crc.update(head)
      if (len > 65536L) {
        val tailStart = math.max(65536L, len - 65536L)
        val tail = new Array[Byte]((len - tailStart).toInt)
        in.seek(tailStart)
        in.readFully(tail)
        crc.update(tail)
      }
      crc.getValue
    } finally in.close()
  }

  /** Write a sidecar for an envelope (the sink path and [[index]] share it):
    * the four envelope bounds plus the document's content stamp (byte
    * length, mtime, head/tail CRC) that [[sidecarOf]] validates against.
    */
  def writeSidecar(docPath: String, env: Env, conf: Configuration): Unit = {
    val doc = new Path(docPath)
    val fs = GeoJsonFetch.fileSystem(doc, conf)
    // A document deleted/replaced between the status and the CRC read must
    // not fail the sink's per-file commit — fall back to the no-stamp tuple
    // (the sidecar then just reads as stale, same as the doc-absent case).
    val st = try stamp(fs, doc) catch { case scala.util.control.NonFatal(_) => Seq(0L, 0L, 0L) }
    val out = fs.create(sidecar(doc), true)
    try out.write(s"${env._1},${env._2},${env._3},${env._4},${st.mkString(",")}".getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** One-time indexing of an EXISTING document (the foreign-document path —
    * the connector's own sink writes sidecars at commit): parse once, union
    * the feature envelopes, persist the sidecar. Returns the envelope, or
    * None for a document with no coordinates (no sidecar written — an empty
    * envelope cannot prune).
    */
  def index(docPath: String, conf: Configuration): Option[Env] = {
    val env = GeoJsonFeatures.iterate(docPath, conf)
      .flatMap(envelope)
      .foldLeft(Option.empty[Env]) { case (acc, e) => Some(union(acc, e)) }
    env.foreach(writeSidecar(docPath, _, conf))
    env
  }

  def union(acc: Option[Env], e: Env): Env = acc match {
    case None => e
    case Some((a, b, c, d)) =>
      (math.min(a, e._1), math.min(b, e._2), math.max(c, e._3), math.max(d, e._4))
  }

  /** Document pruning decision: keep unless a sidecar PROVES no feature can
    * satisfy every pushed predicate.
    */
  def keepDoc(docPath: String, preds: Seq[BboxPred], conf: Configuration): Boolean =
    preds.isEmpty || (sidecarOf(docPath, conf) match {
      case Some(doc) => preds.forall(_.satisfiableForDoc(doc))
      case None => true
    })
}
