package graft

import org.apache.spark.sql.{Dataset, SaveMode}

/** Deterministic synthetic-data generator producing the SAME schemas,
  * categorical domains and value ranges as the driver-provided testdata
  * (`TESTDATA.md`), for scale factors the driver did not ship — round 12's
  * sf1 memory-pressure certification. Distributions were measured off
  * `/root/testdata/sf0.1` (row-count ratios, uniform/exponential shapes,
  * per-order Poisson(4) line multiplicity arising from independent
  * orderkey draws, planted exact- and near-duplicate documents,
  * unit-normalized Gaussian embeddings) so plans exercised at sf1 face the
  * same skew and selectivity the contract SFs do.
  *
  * Every row is a PURE FUNCTION of (table, row id) via a per-row
  * `SplittableRandom` seeded from a mixed 64-bit hash — output is
  * bit-identical at any parallelism, so the generator itself is
  * cluster-scale: `spark.range(n, parts)` and map, no driver-side state,
  * no sequential RNG stream to serialize.
  */
object GenData {

  private def seedFor(table: String, id: Long): Long = {
    var h = id * 0x9E3779B97F4A7C15L + table.hashCode.toLong * 0xC2B2AE3D27D4EB4FL
    h ^= h >>> 31; h *= 0x7FB5D329728EA185L; h ^= h >>> 27
    h
  }
  private def rng(table: String, id: Long) =
    new java.util.SplittableRandom(seedFor(table, id))

  private def round2(v: Double): Double = math.round(v * 100.0) / 100.0

  private val DayMs = 86400000L
  private def epochDay(iso: String): Long =
    java.time.LocalDate.parse(iso).toEpochDay
  private def tsOfDay(day: Long): java.sql.Timestamp =
    new java.sql.Timestamp(day * DayMs)

  // categorical domains, verbatim from the driver data
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val PTypes = Array("ECONOMY", "PROMO", "LARGE", "STANDARD", "SMALL", "MEDIUM")
  private val Adjs = Array("large", "hot", "new", "small", "red", "blue", "old", "cold")
  private val Nouns = Array("widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear")
  private val EventTypes = Array("click", "view", "purchase", "signup", "error")
  private val Langs = Array("de", "es", "fr", "zh") // en carries the other 40%
  private val Vocab = Array(
    "the", "query", "row", "stream", "line", "small", "group", "part", "scan",
    "slow", "agg", "key", "window", "table", "merge", "join", "column",
    "order", "vector", "spark", "fast", "customer", "batch", "data", "sort",
    "value", "hash", "filter", "big", "dup", "a")

  final case class Region(r_regionkey: Int, r_name: String)
  final case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
  final case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int,
                            c_acctbal: Double, c_mktsegment: String)
  final case class Supplier(s_suppkey: Long, s_name: String, s_nationkey: Int,
                            s_acctbal: Double)
  final case class Part(p_partkey: Long, p_name: String, p_brand: String,
                        p_type: String, p_size: Int, p_retailprice: Double)
  final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
                         o_totalprice: Double, o_orderdate: java.sql.Timestamp,
                         o_orderpriority: String)
  final case class Lineitem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
                            l_linenumber: Int, l_quantity: Double,
                            l_extendedprice: Double, l_discount: Double,
                            l_tax: Double, l_returnflag: String,
                            l_linestatus: String, l_shipdate: java.sql.Timestamp)
  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Double, props: String)
  final case class Document(doc_id: Long, text: String, lang: String,
                            source: String, n_chars: Long)
  final case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)

  /** Word salad of 10–100 vocabulary words — pure function of doc id, so
    * planted duplicates can re-derive their partner's text with no join.
    */
  private def wordsOf(id: Long): Array[String] = {
    val r = rng("doctext", id)
    Array.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.length)))
  }

  /** Documents plant both duplicate classes the dedup family hunts:
    * id ≡ 499 (mod 500) is an EXACT copy of id−7; id ≡ 299 (mod 500) is a
    * NEAR-dup of id−13 (last ~20% of words re-rolled — high-but-below-1
    * Jaccard, the MinHash regime). Partner offsets are chosen so a partner
    * is never itself a planted copy.
    */
  private def textOf(id: Long): String = {
    if (id >= 500 && id % 500 == 499) wordsOf(id - 7).mkString(" ")
    else if (id >= 500 && id % 500 == 299) {
      val base = wordsOf(id - 13)
      val r = rng("docnear", id)
      val mutFrom = base.length - math.max(1, base.length / 5)
      base.zipWithIndex.map { case (w, i) =>
        if (i >= mutFrom) Vocab(r.nextInt(Vocab.length)) else w
      }.mkString(" ")
    } else wordsOf(id).mkString(" ")
  }

  def main(args: Array[String]): Unit = {
    val (sf, outDir) = args match {
      case Array(s, o) => (s.toDouble, o)
      case _ =>
        System.err.println("usage: graft.GenData <sf> <outDir>")
        sys.exit(2); throw new IllegalStateException
    }
    val spark = GraftSession.local()
    import spark.implicits._

    def n(base: Long, floor: Long = 1L): Long = math.max(floor, (base * sf).toLong)
    val nCustomer = n(150000L)
    val nSupplier = n(10000L)
    val nPart = n(200000L)
    val nOrders = n(1500000L)
    val nLineitem = n(6000000L)
    val nEvents = n(1000000L)
    val nUsers = n(15000L)
    val nDocs = n(50000L, floor = 500L)
    val nEmb = n(20000L, floor = 500L)
    val parts = spark.sparkContext.defaultParallelism * 2

    val oDay0 = epochDay("1995-01-01")   // o_orderdate ∈ [1995-01-01, 2001-08-01]
    val oDays = (epochDay("2001-08-01") - oDay0 + 1).toInt
    val sDay0 = epochDay("1995-01-02")   // l_shipdate ∈ [1995-01-02, 2001-11-04]
    val sDays = (epochDay("2001-11-04") - sDay0 + 1).toInt
    val evT0 = epochDay("2024-01-01") * DayMs * 1000L // micros; 30-day window
    val evSpanUs = 30L * DayMs * 1000L

    def write[T](ds: Dataset[T], name: String): Unit = {
      // single flat file per table, matching the driver layout TESTDATA.md
      // documents (`{dir}/{name}.parquet` is a FILE consumed by both
      // spark.read and the DuckDB oracle)
      val tmp = s"$outDir/.tmp-$name"
      ds.repartition(1).write.mode(SaveMode.Overwrite).parquet(tmp)
      val dir = new java.io.File(tmp)
      val part = dir.listFiles().find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no parquet part written for $name"))
      val dst = new java.io.File(s"$outDir/$name.parquet")
      if (dst.exists()) dst.delete()
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dir.listFiles().foreach(_.delete()); dir.delete()
      println(s"[gen] $name: ${spark.read.parquet(dst.toString).count()} rows")
    }

    new java.io.File(outDir).mkdirs()

    write(Seq(
      Region(0, "AFRICA"), Region(1, "AMERICA"), Region(2, "ASIA"),
      Region(3, "EUROPE"), Region(4, "MIDDLE EAST")).toDS(), "region")

    write((0 until 25).map(i => Nation(i, s"NATION_$i", i % 5)).toDS(), "nation")

    write(spark.range(0, nCustomer, 1, parts).map { id =>
      val r = rng("customer", id)
      Customer(id, f"Customer#$id%09d", r.nextInt(25),
        round2(-1000.0 + r.nextDouble() * 11000.0), Segments(r.nextInt(5)))
    }, "customer")

    write(spark.range(0, nSupplier, 1, parts).map { id =>
      val r = rng("supplier", id)
      Supplier(id, f"Supplier#$id%09d", r.nextInt(25),
        round2(-1000.0 + r.nextDouble() * 11000.0))
    }, "supplier")

    write(spark.range(0, nPart, 1, parts).map { id =>
      val r = rng("part", id)
      Part(id, s"${Adjs(r.nextInt(8))} ${Nouns(r.nextInt(8))}",
        s"Brand#${1 + r.nextInt(25)}", PTypes(r.nextInt(6)), 1 + r.nextInt(50),
        900.0 + (id % 1000) / 10.0)
    }, "part")

    write(spark.range(0, nOrders, 1, parts).map { id =>
      val r = rng("orders", id)
      Order(id, r.nextLong(nCustomer), "OFP".charAt(r.nextInt(3)).toString,
        round2(1000.0 + r.nextDouble() * 499000.0),
        tsOfDay(oDay0 + r.nextInt(oDays)), Priorities(r.nextInt(5)))
    }, "orders")

    // independent orderkey draws make per-order multiplicity
    // Binomial(nL, 1/nOrders) ≈ Poisson(4), the measured driver shape
    write(spark.range(0, nLineitem, 1, parts).map { id =>
      val r = rng("lineitem", id)
      Lineitem(r.nextLong(nOrders), r.nextLong(nPart), r.nextLong(nSupplier),
        1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble,
        round2(900.0 + r.nextDouble() * 104100.0),
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        "NAR".charAt(r.nextInt(3)).toString, "OF".charAt(r.nextInt(2)).toString,
        tsOfDay(sDay0 + r.nextInt(sDays)))
    }, "lineitem")

    write(spark.range(0, nEvents, 1, parts).map { id =>
      val r = rng("events", id)
      val tsUs = evT0 + r.nextLong(evSpanUs)
      val ts = new java.sql.Timestamp(tsUs / 1000L)
      ts.setNanos((tsUs % 1000000L).toInt * 1000)
      Event(id, ts, r.nextLong(nUsers), EventTypes(r.nextInt(5)),
        round2(-50.0 * math.log1p(-r.nextDouble())),
        s"""{"k": ${r.nextInt(100)}}""")
    }, "events")

    write(spark.range(0, nDocs, 1, parts).map { id =>
      val r = rng("doclang", id)
      val text = textOf(id)
      val lang = if (r.nextDouble() < 0.4) "en" else Langs(r.nextInt(4))
      Document(id, text, lang, s"src${id % 20}", text.length.toLong)
    }, "documents")

    write(spark.range(0, nEmb, 1, parts).map { id =>
      val r = rng("embedding", id)
      val v = Array.fill(64)(r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Embedding(id, v.map(x => (x / norm).toFloat), r.nextInt(10))
    }, "embeddings")

    spark.stop()
  }
}
