package graft.operators

import graft.{Q, Tables, Warehouse}
import graft.functions.{Native, TextFns}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.Bridge

/** Deduplication family for a training-data pipeline.
  *
  * The 100 TB invariant throughout: candidate generation is always an equi-join
  * keyed on a digest / band / shared-shingle key — there is NO crossJoin
  * anywhere in these plans. Signatures are embarrassingly parallel per-row
  * work; only the (small) candidate sets are verified exactly.
  */
object Dedup {

  private val P = 4294967311L // prime > 2^32, for minhash permutations

  /** Exact dedup: md5 digest of normalized text, keep the minimum doc_id per
    * group. One hash aggregate — the canonical exact-dedup shape.
    */
  val exact = Q(
    "q_dedup_exact",
    (s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(trim(lower(col("text")))).as("digest"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_count"))
        .orderBy("keep_id"),
    """SELECT md5(trim(lower(text))) AS digest, min(doc_id) AS keep_id, count(*) AS dup_count
      |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin
  )

  /** MinHash signatures for word-`n`-gram shingles:
    * (doc_id, hs: array<long> distinct shingle hashes, sig: array<long>).
    *
    * No shuffle: `graft_shingle_hashes` builds each doc's distinct hash set
    * row-locally, and `graft_minhash` folds every permutation's minimum over
    * it in one codegen'd loop — NOT a numPerms-way row fanout. The values are
    * the oracle's explode/DISTINCT/min form (MinhashSigSpec). The empty-hs
    * filter mirrors the explode, where a doc with < n tokens never produces a
    * row. The hash set rides along so the verify stage never has to
    * recompute shingles.
    */
  def minhashSignatures(documents: DataFrame, n: Int, numPerms: Int): DataFrame =
    documents
      .select(col("doc_id"), Native.shingleHashes(split(col("text"), " "), n).as("hs"))
      .filter(size(col("hs")) > 0)
      .select(col("doc_id"), col("hs"), Native.minhash(col("hs"), numPerms).as("sig"))

  /** LSH banding: (doc_id, band, bkey) where bkey is the md5 of the band's
    * '_'-joined signature slice. Shuffle key for candidate generation.
    */
  def lshBands(sig: DataFrame, numPerms: Int, rowsPerBand: Int): DataFrame = {
    val nBands = numPerms / rowsPerBand
    val bandCols = (0 until nBands).map { k =>
      struct(
        lit(k.toLong).as("band"),
        md5(concat_ws("_", (0 until rowsPerBand).map(i =>
          element_at(col("sig"), k * rowsPerBand + i + 1).cast("string")): _*)).as("bkey"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
  }

  /** Near-dup pairs: LSH candidates (equi-join on band key) verified with
    * exact Jaccard over the distinct shingle-hash sets, ≥ threshold.
    *
    * Verification intersects the per-doc hash arrays carried through the
    * signature grouping — no second shingle computation, no row-explosion
    * verify join; per candidate pair the work is one array_intersect.
    */
  def minhashNearDups(documents: DataFrame, n: Int, numPerms: Int, rowsPerBand: Int,
                      threshold: Double): DataFrame =
    minhashNearDupsWithCache(documents, n, numPerms, rowsPerBand, threshold)._1

  /** [[minhashNearDups]] plus a release handle for its internal signature
    * cache — for callers that materialize the pairs mid-pipeline and should
    * drop the cache immediately instead of waiting for a session-level
    * clearCache (CorpusPipeline); call the handle only AFTER an action has
    * consumed the returned pairs.
    */
  private[graft] def minhashNearDupsWithCache(
      documents: DataFrame, n: Int, numPerms: Int, rowsPerBand: Int,
      threshold: Double): (DataFrame, () => Unit) = {
    // the signature relation feeds the band generator AND both verify joins —
    // persist (columnar cache) rather than localCheckpoint: the band join
    // reads only (doc_id, sig) and the verify joins only (doc_id, hs), and
    // the cache serves each consumer PRUNED columns, where a checkpointed
    // row RDD would deserialize the wide hs arrays for every consumer
    // (measured 2.0 s vs 1.2 s at sf0.1). Cache lifetime is owned by the
    // caller (Bench/Verify clearCache() between queries; CorpusPipeline the
    // release handle).
    val sig = minhashSignatures(documents, n, numPerms).persist()
    val bands = lshBands(sig, numPerms, rowsPerBand)
    val cand = bands.select(col("doc_id").as("d1"), col("band"), col("bkey"))
      .join(bands.select(col("doc_id").as("d2"), col("band"), col("bkey")), Seq("band", "bkey"))
      .filter(col("d1") < col("d2"))
      .select("d1", "d2").distinct()
    val shared = size(array_intersect(col("hs1"), col("hs2"))).cast("long")
    val jac = shared.cast("double") /
      (size(col("hs1")).cast("long") + size(col("hs2")).cast("long") - shared)
    cand
      .join(sig.select(col("doc_id").as("d1"), col("hs").as("hs1")), Seq("d1"))
      .join(sig.select(col("doc_id").as("d2"), col("hs").as("hs2")), Seq("d2"))
      .filter(jac >= threshold)
      .select(col("d1"), col("d2"), shared.as("shared_shingles"), round(jac, 6).as("jaccard"))
      .orderBy("d1", "d2") -> (() => { sig.unpersist(); () })
  }

  /** MATERIALIZED-ONCE near-dup pair table for the REGISTERED parameterization
    * (bigram shingles, 32 perms, 8×4 bands, J ≥ 0.5) — the [[Warehouse]]
    * seam: the pair relation is the input of every downstream dedup
    * DELIVERABLE (clusters, keep-lists, coverage reports), and at 100 TB it
    * is a table built once per corpus snapshot and refreshed with it, not a
    * pipeline each consumer re-runs from the raw text. The input key carries
    * the full parameterization so a retuned config lands in a fresh key.
    * `q_dedup_minhash` itself still runs the live pipeline — it IS the
    * benchmark of the build; the consumers below read the table.
    */
  def nearDupPairTable(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    // input FINGERPRINT in the key: a documents table regenerated in place
    // (same path, new bytes) must land in a fresh key and rebuild, not serve
    // the previous corpus's pairs to the cluster/keep-list deliverables
    val key = s"$d|shingle=2|perms=32|rpb=4|thr=0.5|" +
      Warehouse.fingerprint(s, s"$d/documents.parquet")
    // the one-time build pins its signature cache only for the build itself:
    // the release handle fires after Warehouse.table returns, i.e. after the
    // parquet write (the consuming action) — the public-API contract that no
    // registered query leaves executor blocks pinned. No-op on a cache hit.
    var release: () => Unit = () => ()
    try Warehouse.table(s, "neardup_pairs", key) {
      val (pairs, rel) = minhashNearDupsWithCache(Tables.documentsSpread(s, d), 2, 32, 4, 0.5)
      release = rel
      pairs
    } finally release()
  }

  /** Registered instance: bigram shingles, 32 perms, 8 bands × 4 rows, J ≥ 0.5.
    * 4-row bands keep the candidate count linear when ambient Jaccard between
    * unrelated docs is non-trivial (tiny vocab ⇒ J≈0.15): P(false candidate)
    * ≈ 8·J⁴ ≈ 4e-3, while J ≥ 0.9 near-dups are caught with P > 0.9999.
    */
  val minhash = Q(
    "q_dedup_minhash",
    (s, d) => minhashNearDups(Tables.documentsSpread(s, d), 2, 32, 4, 0.5),
    s"""WITH sh AS (${TextFns.shinglesSql(2)}),
       |hashed AS (SELECT DISTINCT doc_id, ${TextFns.hash32Sql("sh")} AS h FROM sh),
       |shn AS (SELECT doc_id, count(*) AS n FROM hashed GROUP BY doc_id),
       |perms AS (
       |  SELECT j, 2*${TextFns.hash28Sql("'a'||CAST(j AS VARCHAR)")}+1 AS a,
       |         ${TextFns.hash28Sql("'b'||CAST(j AS VARCHAR)")} AS b
       |  FROM unnest(range(32)) AS t(j)),
       |sig AS (SELECT doc_id, j, min((a*h + b) % $P) AS mh FROM hashed, perms GROUP BY doc_id, j),
       |bands AS (
       |  SELECT doc_id, CAST(floor(j/4.0) AS BIGINT) AS band,
       |         md5(string_agg(CAST(mh AS VARCHAR), '_' ORDER BY j)) AS bkey
       |  FROM sig GROUP BY doc_id, CAST(floor(j/4.0) AS BIGINT)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b ON a.band=b.band AND a.bkey=b.bkey AND a.doc_id < b.doc_id),
       |shared AS (
       |  SELECT c.d1, c.d2, count(*) AS shared
       |  FROM cand c JOIN hashed h1 ON h1.doc_id=c.d1 JOIN hashed h2 ON h2.doc_id=c.d2 AND h1.h=h2.h
       |  GROUP BY c.d1, c.d2)
       |SELECT d1, d2, CAST(shared AS BIGINT) AS shared_shingles,
       |       round(CAST(shared AS DOUBLE)/(n1.n+n2.n-shared), 6) AS jaccard
       |FROM shared JOIN shn n1 ON n1.doc_id=d1 JOIN shn n2 ON n2.doc_id=d2
       |WHERE CAST(shared AS DOUBLE)/(n1.n+n2.n-shared) >= 0.5
       |ORDER BY d1, d2""".stripMargin
  )

  /** SimHash DataFrame (doc_id, simhash): 32-bit, sign of token-frequency
    * weighted bit sums.
    *
    * One native per-doc expression (`graft_simhash`): zero shuffles, where
    * the aggregate form [[simhashAggDf]] spends two wide exchanges on
    * per-doc arithmetic. The per-bit sums are exact integers (count × ±1),
    * so the values equal the aggregate form and the oracle's
    * unnest(range(32)) formulation bit-for-bit (SimhashSigSpec).
    */
  def simhashDf(documents: DataFrame): DataFrame =
    // null-text docs produce no token rows in the aggregate form and so no
    // output row — mirror that exactly (the expression alone would emit a
    // null-simhash row)
    documents.filter(col("text").isNotNull)
      .select(col("doc_id"), Native.simhash(split(col("text"), " ")).as("simhash"))

  /** The built-in-only twin of [[simhashDf]] and its value contract
    * (SimhashSigSpec's reference): ONE hash aggregate with 32 exact-integer
    * sum columns, never a 32-way bit-position explode.
    */
  def simhashAggDf(documents: DataFrame): DataFrame = {
    val tc = documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("c"))
      .select(col("doc_id"), col("c"), TextFns.hash32(col("tok")).as("h"))
    val sums = (0 until 32).map { j =>
      val bit = floor(col("h") / lit(math.pow(2.0, j))).cast("long") % 2L
      sum(col("c") * (bit * 2L - 1L)).as(s"s$j")
    }
    tc.groupBy("doc_id").agg(sums.head, sums.tail: _*)
      .select(col("doc_id"),
        (0 until 32).map(j => when(col(s"s$j") > 0L, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** DuckDB CTE body producing `sh(doc_id, simhash)` — shared by the two
    * simhash oracles.
    */
  private val simhashCte: String =
    s"""tc AS (
       |  SELECT doc_id, tok, count(*) AS c, ${TextFns.hash32Sql("tok")} AS h
       |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents)
       |  GROUP BY doc_id, tok),
       |bits AS (
       |  SELECT doc_id, j, sum(c * ((CAST(floor(h/power(2,j)) AS BIGINT) % 2)*2 - 1)) AS s
       |  FROM tc, unnest(range(32)) AS u(j) GROUP BY doc_id, j),
       |sh AS (
       |  SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN CAST(power(2,j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
       |  FROM bits GROUP BY doc_id)""".stripMargin

  val simhash = Q(
    "q_simhash",
    (s, d) => simhashDf(Tables.documents(s, d)).orderBy("doc_id"),
    s"WITH $simhashCte SELECT doc_id, simhash FROM sh ORDER BY doc_id"
  )

  /** DuckDB CTE body producing `sh64(doc_id, lo, hi)` — the 64-bit oracle
    * twin of [[simhash64Df]] (lo = md5 chars 1–8 family, hi = chars 9–16).
    */
  private val simhash64Cte: String =
    s"""tc64 AS (
       |  SELECT doc_id, tok, count(*) AS c,
       |         ${TextFns.hash32Sql("tok")} AS hlo, ${TextFns.hash32bSql("tok")} AS hhi
       |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents)
       |  GROUP BY doc_id, tok),
       |bits64 AS (
       |  SELECT doc_id, j,
       |         sum(c * ((CAST(floor(hlo/power(2,j)) AS BIGINT) % 2)*2 - 1)) AS slo,
       |         sum(c * ((CAST(floor(hhi/power(2,j)) AS BIGINT) % 2)*2 - 1)) AS shi
       |  FROM tc64, unnest(range(32)) AS u(j) GROUP BY doc_id, j),
       |sh64 AS (
       |  SELECT doc_id,
       |         CAST(sum(CASE WHEN slo > 0 THEN CAST(power(2,j) AS BIGINT) ELSE 0 END) AS BIGINT) AS lo,
       |         CAST(sum(CASE WHEN shi > 0 THEN CAST(power(2,j) AS BIGINT) ELSE 0 END) AS BIGINT) AS hi
       |  FROM bits64 GROUP BY doc_id)""".stripMargin

  /** 64-bit SimHash as TWO 32-bit halves `(doc_id, lo, hi)`.
    *
    * Two-halves representation: a set bit 63 would flip the long's sign and
    * poison the floor/pow band arithmetic on both engines; with each half in
    * [0, 2^32) everything is plain positive arithmetic, identical in DuckDB.
    * `lo` is bit-for-bit the 32-bit [[simhashDf]] value (md5 bytes 0–3 token
    * hash); `hi` weights by bytes 4–7 of the SAME digest — an independent
    * family at zero extra hashing (SimhashSigSpec pins native == aggregate).
    */
  def simhash64Df(documents: DataFrame): DataFrame =
    documents.filter(col("text").isNotNull)
      .select(col("doc_id"), Native.simhash64(split(col("text"), " ")).as("s64"))
      .select(col("doc_id"), col("s64").getItem(0).as("lo"), col("s64").getItem(1).as("hi"))

  /** The built-in-only twin of [[simhash64Df]]: one hash aggregate with 64
    * exact-integer sum columns (32 per half) — same single-aggregate shape as
    * [[simhashAggDf]], never a 64-way bit-position explode.
    */
  def simhash64AggDf(documents: DataFrame): DataFrame = {
    val tc = documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("c"))
      .select(col("doc_id"), col("c"),
        TextFns.hash32(col("tok")).as("hlo"), TextFns.hash32b(col("tok")).as("hhi"))
    def bitSums(h: String, p: String) = (0 until 32).map { j =>
      val bit = floor(col(h) / lit(math.pow(2.0, j))).cast("long") % 2L
      sum(col("c") * (bit * 2L - 1L)).as(s"$p$j")
    }
    val sums = bitSums("hlo", "a") ++ bitSums("hhi", "b")
    def half(p: String) =
      (0 until 32).map(j => when(col(s"$p$j") > 0L, lit(1L << j)).otherwise(lit(0L)))
        .reduce(_ + _)
    tc.groupBy("doc_id").agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), half("a").as("lo"), half("b").as("hi"))
  }

  /** Manku block-width solver (the simhash twin of the minhash S-curve
    * solver): covering hamming radius `r` needs `r + 1` blocks (pigeonhole —
    * ≤ r flipped bits leave at least one of r+1 blocks intact), and expected
    * bucket occupancy n / 2^w stays at `targetOccupancy` when
    * w ≥ log2(n / targetOccupancy). Candidate volume per band is
    * Σ occ²/2 ≈ n²/2^(w+1), so the registered (4 blocks × 16 bits over
    * 64 bits, r = 3) config keeps occupancy O(1) to n ≈ 65k docs per
    * partition-of-corpus and is 256× below the old 8-bit config's n²/128
    * fan-out; beyond that, widen w (or shard the corpus) by this formula.
    */
  def simhashBlockBits(n: Long, targetOccupancy: Double = 1.0): Int =
    math.min(32, math.max(8,
      math.ceil(math.log(n.toDouble / targetOccupancy) / math.log(2.0)).toInt))

  /** SimHash near-dup pairs (Manku-style): 64-bit signature split into 4
    * 16-bit blocks; by pigeonhole, any pair within hamming distance 3 shares
    * at least one intact block, so candidates come from an equi-join on
    * (block index, block value) — never all-pairs. Exact hamming (bit_count
    * of xor, summed over the halves) verifies candidates.
    *
    * Round 16: widened from 32-bit/8-bit blocks — ~n/256 docs per (k, bb)
    * bucket made candidates grow ≈ n²/128 (19M verify pairs at 50k docs,
    * 90.3 s at sf1, the registry's last quadratic-fan-out hazard). 16-bit
    * blocks cut per-bucket occupancy 256× (see [[simhashBlockBits]]); the
    * wider signature also halves the false-candidate rate per bit.
    */
  val simhashPairs = Q(
    "q_simhash_pairs",
    (s, d) => {
      // signatures carried through the block join (not re-joined afterwards);
      // localCheckpoint (not persist) materializes the shared subplan ONCE
      // and — unlike a cached plan, which AQE won't re-plan inside — leaves
      // the self-join above it fully visible to AQE's runtime re-planning
      val blocks = simhash64Df(Tables.documents(s, d)).localCheckpoint()
        .select(col("doc_id"), col("lo"), col("hi"),
          explode(sequence(lit(0), lit(3))).as("k"))
        .select(col("doc_id"), col("lo"), col("hi"), col("k"),
          (floor(when(col("k") < 2, col("lo")).otherwise(col("hi")) /
            pow(lit(2.0), (col("k") % 2) * 16)).cast("long") % 65536L).as("bb"))
      val hamming = (bit_count(col("lo1").bitwiseXOR(col("lo2"))) +
        bit_count(col("hi1").bitwiseXOR(col("hi2")))).cast("long")
      blocks.select(col("doc_id").as("d1"), col("lo").as("lo1"), col("hi").as("hi1"),
          col("k"), col("bb"))
        .join(blocks.select(col("doc_id").as("d2"), col("lo").as("lo2"),
          col("hi").as("hi2"), col("k"), col("bb")), Seq("k", "bb"))
        .filter(col("d1") < col("d2") && hamming <= 3L)
        .select(col("d1"), col("d2"), hamming.as("hamming"))
        .distinct()
        .orderBy("d1", "d2")
    },
    s"""WITH $simhash64Cte,
       |blocks AS (
       |  SELECT doc_id, k,
       |         CAST(floor((CASE WHEN k < 2 THEN lo ELSE hi END)
       |                    / power(2, (k % 2) * 16)) AS BIGINT) % 65536 AS bb
       |  FROM sh64, unnest(range(4)) AS u(k)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM blocks a JOIN blocks b ON a.k=b.k AND a.bb=b.bb AND a.doc_id < b.doc_id)
       |SELECT d1, d2,
       |       CAST(bit_count(xor(s1.lo, s2.lo)) + bit_count(xor(s1.hi, s2.hi)) AS BIGINT) AS hamming
       |FROM cand JOIN sh64 s1 ON s1.doc_id=d1 JOIN sh64 s2 ON s2.doc_id=d2
       |WHERE bit_count(xor(s1.lo, s2.lo)) + bit_count(xor(s1.hi, s2.hi)) <= 3
       |ORDER BY d1, d2""".stripMargin
  )

  /** Exact n-gram Jaccard on blocked pairs: the block key is a shared shingle
    * over the df-capped shingle universe (stop-shingles removed, df ≤ 100),
    * pairs kept once they share ≥ 10 shingles.
    *
    * Shape: ONE aggregate per shingle collects its doc list with `graft_topk`
    * — a bounded heap, so a pathologically hot shingle holds at most cap+1
    * entries in every partial buffer (collect_set would buffer its full df
    * before the filter could drop it — an executor OOM at 100 TB); df > cap
    * shingles are then dropped by array size, and candidate pairs come from
    * per-array combinations (≤ cap(cap-1)/2 per shingle, linear overall) —
    * no self-join of the shingle relation, no second shuffle of shingle rows,
    * and no stop-shingle side list to broadcast.
    */
  val ngramJaccard = Q(
    "q_ngram_jaccard",
    (s, d) => {
      val cap = 100
      // per-doc dedup is ROW-LOCAL (array_distinct) — no shuffle spent on a
      // global DISTINCT; the one wide shuffle is the doc-list aggregate
      val sh = Tables.documentsSpread(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("doc_id"), explode(array_distinct(expr(
          "transform(sequence(0, size(t) - 2), i -> concat_ws(' ', t[i], t[i + 1]))"))).as("sh"))
      // doc-list relation is one row per qualifying shingle (small) and feeds
      // both the pair generator and the per-doc counts — localCheckpoint
      // materializes it once and leaves AQE free above it; the doc list is a
      // bounded heap per partial buffer
      val docList = transform(
        Native.topk(col("doc_id").cast("double"), col("doc_id"), cap + 1), x => x("id"))
      val capped = sh
        .groupBy("sh")
        .agg(docList.as("docs"))
        .filter(size(col("docs")) <= cap)
        .select("docs")
        .localCheckpoint()
      val shn = capped.select(explode(col("docs")).as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("n"))
      val pairs = capped
        .select(explode(expr(
          "flatten(transform(docs, (x, i) -> transform(slice(docs, i + 2, size(docs))," +
            " y -> struct(least(x, y) as d1, greatest(x, y) as d2))))")).as("p"))
        .select(col("p.d1").as("d1"), col("p.d2").as("d2"))
        .groupBy("d1", "d2").agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= 10L)
      val jac = col("shared").cast("double") / (col("n1") + col("n2") - col("shared"))
      pairs
        .join(shn.select(col("doc_id").as("d1"), col("n").as("n1")), Seq("d1"))
        .join(shn.select(col("doc_id").as("d2"), col("n").as("n2")), Seq("d2"))
        .select(col("d1"), col("d2"), col("shared").as("shared_shingles"), round(jac, 6).as("jaccard"))
        .orderBy("d1", "d2")
    },
    s"""WITH sh AS (${TextFns.shinglesSql(2, maxDf = Some(100))}),
       |shn AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |pairs AS (
       |  SELECT s1.doc_id AS d1, s2.doc_id AS d2, count(*) AS shared
       |  FROM sh s1 JOIN sh s2 ON s1.sh = s2.sh AND s1.doc_id < s2.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= 10)
       |SELECT d1, d2, CAST(shared AS BIGINT) AS shared_shingles,
       |       round(CAST(shared AS DOUBLE)/(n1.n+n2.n-shared), 6) AS jaccard
       |FROM pairs JOIN shn n1 ON n1.doc_id=d1 JOIN shn n2 ON n2.doc_id=d2
       |ORDER BY d1, d2""".stripMargin
  )

  /** Cross-document duplicated-shingle coverage: for every document, the
    * fraction of its distinct bigram shingles that also occur in at least one
    * OTHER document — the span-level contamination signal RefinedWeb/C4-style
    * pipelines threshold on before dropping or trimming a page (a document
    * can be no exact/near dup overall yet be 60% boilerplate shared with the
    * rest of the crawl).
    *
    * Shape (round 15, HASHED-shingle grain like [[ngramNoveltyReport]]):
    * per-doc distinct shingle HASHES from the native row-local
    * `graft_shingle_hashes` (no explode→concat→global-DISTINCT shuffle of
    * shingle strings), then ONE explicit repartition on the hash feeds both
    * the df aggregate AND the join probe (checkpointed at (long, long)
    * grain; round-8 measured lesson, exchange reuse does not collapse such
    * branches); shingle document frequency is one count aggregate keyed by
    * hash; the df attaches back by equi-join on the SAME partitioning (no
    * second wide shuffle), and the per-doc coverage is a final count/sum
    * aggregate on doc_id. No doc lists are ever collected per shingle — a
    * hot boilerplate shingle is one counter, never an array — so the plan
    * has no per-key width hazard at any corpus size. Hash grain merges
    * colliding shingles (≈|shingles|²/2³³ expected pairs) — taken
    * identically in the oracle.
    */
  /** The coverage computation behind `q_dup_coverage`, reusable on any
    * (doc_id, text) relation; see the Q's doc for the plan rationale.
    */
  def duplicatedShingleCoverage(documents: DataFrame): DataFrame = {
    // graft_shingle_hashes dedups hashes per doc, like the DISTINCT-on-hash
    // oracle: two distinct shingles in one doc colliding on the 32-bit hash
    // count once
    val sh = documents
      .select(col("doc_id"), explode(Native.shingleHashes(split(col("text"), " "), 2)).as("h"))
      .repartition(col("h")).localCheckpoint()
    val df = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
    sh.join(df, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_shingles"), col("n_dup"),
        round(col("n_dup").cast("double") / col("n_shingles"), 6).as("dup_frac"))
      .orderBy("doc_id")
  }

  val dupCoverage = Q(
    "q_dup_coverage",
    (s, d) => duplicatedShingleCoverage(Tables.documentsSpread(s, d)),
    s"""WITH shs AS (${TextFns.shinglesSql(2)}),
       |sh AS (SELECT DISTINCT doc_id, ${TextFns.hash32Sql("sh")} AS h FROM shs),
       |df AS (SELECT h, count(*) AS df FROM sh GROUP BY 1)
       |SELECT s.doc_id, count(*) AS n_shingles,
       |       CAST(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       |       round(CAST(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
       |             / count(*), 6) AS dup_frac
       |FROM sh s JOIN df ON s.h = df.h
       |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin
  )

  /** ASYMMETRIC CONTAINMENT scoring — the EXCERPT detector Jaccard
    * structurally misses: a short document fully quoted inside a long one
    * scores shared/min(|A|,|B|) ≈ 1 while its Jaccard stays ≈ |A|/|B| ≈ 0
    * (the union washes the overlap out), so symmetric near-dup passes keep
    * both copies and the training set still memorizes the excerpt. Same
    * df-capped shingle blocking and bounded doc-list pair generation as
    * [[ngramJaccard]] (no self-join, no all-pairs); only the verify metric
    * changes, and the output names WHICH side is the contained one (the
    * smaller set, ties to the lower doc_id) — that is the copy a pipeline
    * drops or attributes.
    */
  val containment = Q(
    "q_containment",
    (s, d) => {
      val cap = 100
      // hashed-shingle grain (round 15, the ngramNoveltyReport convention):
      // the doc-list aggregate keys on the native row-local 32-bit shingle
      // hash instead of the shingle STRING — and the hash is repartitioned
      // BEFORE the aggregate (mostly-unique keys per split make the partial
      // heap a full corpus probe buying no shuffle reduction). sf1: 7.2 s →
      // the pair fan-out and verify are unchanged.
      val sh = Tables.documentsSpread(s, d)
        .select(col("doc_id"), explode(Native.shingleHashes(split(col("text"), " "), 2)).as("h"))
        .repartition(col("h"))
      val docList = transform(
        Native.topk(col("doc_id").cast("double"), col("doc_id"), cap + 1), x => x("id"))
      val capped = sh
        .groupBy("h")
        .agg(docList.as("docs"))
        .filter(size(col("docs")) <= cap)
        .select("docs")
        .localCheckpoint()
      val shn = capped.select(explode(col("docs")).as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("n"))
      val pairs = capped
        .select(explode(expr(
          "flatten(transform(docs, (x, i) -> transform(slice(docs, i + 2, size(docs))," +
            " y -> struct(least(x, y) as d1, greatest(x, y) as d2))))")).as("p"))
        .select(col("p.d1").as("d1"), col("p.d2").as("d2"))
        .groupBy("d1", "d2").agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= 5L)
      val cont = round(col("shared").cast("double") / least(col("n1"), col("n2")), 6)
      pairs
        .join(shn.select(col("doc_id").as("d1"), col("n").as("n1")), Seq("d1"))
        .join(shn.select(col("doc_id").as("d2"), col("n").as("n2")), Seq("d2"))
        .filter(cont >= 0.8)
        .select(col("d1"), col("d2"), col("shared").as("shared_shingles"),
          cont.as("containment"),
          when(col("n1") <= col("n2"), col("d1")).otherwise(col("d2")).as("contained_doc"))
        .orderBy("d1", "d2")
    },
    s"""WITH shs AS (${TextFns.shinglesSql(2)}),
       |sh0 AS (SELECT DISTINCT doc_id, ${TextFns.hash32Sql("sh")} AS h FROM shs),
       |sh AS (SELECT doc_id, h FROM (
       |  SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS df FROM sh0)
       |  WHERE df <= 100),
       |shn AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |pairs AS (
       |  SELECT s1.doc_id AS d1, s2.doc_id AS d2, count(*) AS shared
       |  FROM sh s1 JOIN sh s2 ON s1.h = s2.h AND s1.doc_id < s2.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= 5)
       |SELECT d1, d2, CAST(shared AS BIGINT) AS shared_shingles,
       |       round(CAST(shared AS DOUBLE) / least(n1.n, n2.n), 6) AS containment,
       |       CASE WHEN n1.n <= n2.n THEN d1 ELSE d2 END AS contained_doc
       |FROM pairs JOIN shn n1 ON n1.doc_id = d1 JOIN shn n2 ON n2.doc_id = d2
       |WHERE round(CAST(shared AS DOUBLE) / least(n1.n, n2.n), 6) >= 0.8
       |ORDER BY d1, d2""".stripMargin
  )

  /** FUZZY ENTITY MATCHING by EDIT DISTANCE with blocking — the
    * entity-resolution operator (typo'd product names, OCR'd titles,
    * near-identical vendor strings) that complements the token/shingle
    * dedup family with CHARACTER-level similarity. Shape: names first
    * dedupe to the DISTINCT-string grain (a hash aggregate bounded by
    * vocabulary, not row count — at 100 TB the fact table never self-joins),
    * then candidates come from an EQUI-join on a blocking key (the head
    * noun here; any cheap canonical fragment works) and only blocked pairs
    * pay the O(len²) levenshtein, evaluated row-locally. The all-pairs
    * quadratic comparison never appears in the plan — same discipline as
    * MinHash banding and SimHash blocks, with edit distance as the verify
    * metric instead of Jaccard/Hamming.
    */
  val fuzzyMatch = Q(
    "q_fuzzy_match",
    (s, d) => {
      val t = Tables.part(s, d).select(col("p_name")).distinct()
        .select(col("p_name"), element_at(split(col("p_name"), " "), 2).as("noun"))
      val a = t.select(col("p_name").as("n1"), col("noun"))
      val b = t.select(col("p_name").as("n2"), col("noun"))
      a.join(b, Seq("noun"))
        .filter(col("n1") < col("n2") &&
          levenshtein(col("n1"), col("n2")) <= 2)
        .select(col("n1"), col("n2"),
          levenshtein(col("n1"), col("n2")).cast("long").as("dist"))
        .orderBy("n1", "n2")
    },
    """WITH n AS (SELECT DISTINCT p_name FROM part),
      |t AS (SELECT p_name, string_split(p_name, ' ')[2] AS noun FROM n)
      |SELECT a.p_name AS n1, b.p_name AS n2,
      |       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
      |FROM t a JOIN t b ON a.noun = b.noun
      |WHERE a.p_name < b.p_name AND levenshtein(a.p_name, b.p_name) <= 2
      |ORDER BY n1, n2""".stripMargin
  )

  /** Connected components over a near-dup pair graph by iterative min-label
    * propagation (the Pregel/GraphX shape as plain DataFrame ops): every node
    * starts labelled with itself; each round takes the min of its own and its
    * neighbours' labels; fixpoint reached in O(component diameter) rounds —
    * near-dup clusters are small and dense, so convergence is fast at any
    * scale. The driver's per-round work is ONE scalar convergence probe; the
    * label state lives distributed. min() is associative/commutative, so the
    * result is partitioning-invariant. Returns (doc_id, cluster_rep).
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    // localCheckpoint (not just persist) truncates lineage each round: every
    // iteration's plan is then structurally IDENTICAL, so codegen compiles
    // once and analysis stays O(1) per round instead of growing with the
    // iteration count — the difference between seconds and tens of seconds
    // once components need 10+ rounds
    val edges = pairs.select(col("d1").as("v"), col("d2").as("w"))
      .unionByName(pairs.select(col("d2").as("v"), col("d1").as("w")))
      .localCheckpoint()
    var labels = edges.select(col("v")).distinct().withColumn("l", col("v"))
      .localCheckpoint()
    def propagate(ls: DataFrame): DataFrame = {
      val neigh = edges.join(ls.select(col("v").as("w"), col("l")), Seq("w"))
        .groupBy("v").agg(min(col("l")).as("nl"))
      ls.join(neigh, Seq("v"), "left")
        .select(col("v"), least(col("l"), coalesce(col("nl"), col("l"))).as("l"))
    }
    var iters = 0
    var converged = false
    while (!converged && iters < maxIters) {
      // TWO propagation steps per materialization/probe: labels only ever
      // DECREASE under min-propagation (monotone, no oscillation), so
      // "unchanged after a double step" ⟺ fixpoint — same invariant, half
      // the checkpoint + convergence-probe jobs for the same round count
      val next = propagate(propagate(labels)).localCheckpoint()
      val changed = next.join(labels.select(col("v"), col("l").as("old")), Seq("v"))
        .filter(col("l") =!= col("old")).limit(1).count()
      labels = next
      converged = changed == 0L
      iters += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIters rounds")
    labels.select(col("v").as("doc_id"), col("l").as("cluster_rep"))
  }

  /** The dedup DELIVERABLE: duplicate clusters (not just pairs) — MinHash
    * candidate pairs grouped into connected components, each doc tagged with
    * its cluster representative (the min doc_id — the copy a pipeline keeps)
    * and the cluster size.
    */
  val clusters = Q(
    "q_dedup_clusters",
    (s, d) => {
      val comp = connectedComponents(
        nearDupPairTable(s, d).select("d1", "d2"))
      val sizes = comp.groupBy(col("cluster_rep").as("r")).agg(count(lit(1)).as("cluster_size"))
      comp.join(sizes, col("cluster_rep") === col("r"))
        .select(col("doc_id"), col("cluster_rep"), col("cluster_size"))
        .orderBy("doc_id")
    },
    // MATERIALIZED (q_sssp precedent): DuckDB inlines plain CTEs per
    // reference, so the recursive reach would re-derive the ENTIRE minhash
    // pipeline every iteration — the sf1 run died spilling >60 GB
    s"""WITH RECURSIVE pairs AS MATERIALIZED (
       |  SELECT d1, d2 FROM (${minhash.oracle.replace("ORDER BY d1, d2", "")})),
       |edges AS MATERIALIZED (SELECT d1 AS v, d2 AS w FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
       |nodes AS MATERIALIZED (SELECT DISTINCT v FROM edges),
       |reach AS (
       |  SELECT v, v AS l FROM nodes
       |  UNION
       |  SELECT e.v, r.l FROM edges e JOIN reach r ON r.v = e.w
       |),
       |comp AS (SELECT v AS doc_id, min(l) AS cluster_rep FROM reach GROUP BY v)
       |SELECT c.doc_id, c.cluster_rep, CAST(n.sz AS BIGINT) AS cluster_size
       |FROM comp c JOIN (SELECT cluster_rep AS r, count(*) AS sz FROM comp GROUP BY 1) n
       |ON n.r = c.cluster_rep
       |ORDER BY c.doc_id""".stripMargin
  )

  /** Benchmark decontamination: flag training documents sharing ≥ 5 distinct
    * bigram-shingle hashes with any document of the eval slice (here the
    * `src0` source stands in for a benchmark suite). The asymmetric twin of
    * near-dup detection: candidate generation is an equi-join on the shingle
    * hash against the EVAL side — which in production is a benchmark corpus,
    * orders of magnitude smaller than the training corpus, so the join
    * carries no hint and AQE broadcasts the eval side while it measures
    * small (the lm-score posture; a hint would be an unbounded-broadcast
    * hazard if the eval slice grew). Shingle hashing itself is the same
    * shuffle-free native expression the minhash family uses.
    */
  /** Benchmark decontamination as a reusable, parameterized API: report every
    * `train` document sharing at least `minShared` distinct `n`-gram shingle
    * hashes with some `eval` document (both inputs need `doc_id` + `text`).
    * `n` tunes specificity (bigger shingles = fewer coincidental hits) and
    * `minShared` the evidence threshold — the two knobs a real contamination
    * audit sweeps. `bloomCapacity` inserts the Bloom pre-filter in front of
    * the exact verify join (result-invariant: no false negatives, the exact
    * join removes false positives); sessions without the extensions degrade
    * to the composed shingle path and skip the prefilter.
    *
    * `maxDf` (round 14) is the quadratic-blowup guard the sf1 bench caught
    * this operator missing: a corpus-common shingle ("the query") pairs
    * EVERY train doc against EVERY eval doc containing it, so the verify
    * join's per-hash fan-out is n_tr(h)·n_ev(h) — measured 191 s at sf1 vs
    * 1.3 s at sf0.1, a scale-killer a 100 TB corpus would die on. Shingles
    * occurring in more than `maxDf` documents CORPUS-WIDE (train ∪ eval)
    * are excluded as boilerplate — they carry no contamination signal (the
    * same ≤cap doc-list discipline as [[containment]]/[[ngramJaccard]]);
    * with the cap, per-hash fan-out is ≤ maxDf² and such hashes are rare.
    * The df table is one hash aggregate at shingle-vocabulary grain; both
    * side prunes are semi-joins on the SAME hash partitioning the verify
    * join needs, so the cap adds no extra exchange on the big side.
    *
    * NOTE: the default cap is a BEHAVIOR CHANGE vs rounds ≤ 13 — pairs whose
    * only shared shingles are corpus-common are now deliberately missed
    * (they carried no contamination signal). Callers who need the old
    * uncapped semantics pass `maxDf = Int.MaxValue`, which restores them
    * exactly (every shingle passes the `df <= maxDf` filter).
    */
  def decontaminationReport(train: DataFrame, eval: DataFrame,
                            n: Int = 2, minShared: Long = 5L,
                            bloomCapacity: Option[Int] = None,
                            maxDf: Int = 100): DataFrame = {
    def hashes(df: DataFrame, idAs: String) =
      df.select(col("doc_id").as(idAs),
        explode(Native.shingleHashes(split(col("text"), " "), n)).as("h"))
    val evAll = hashes(eval, "eval_doc")
    val trAll = hashes(train, "train_doc")
    val rare = trAll.select(col("h"))
      .unionByName(evAll.select(col("h")))
      .groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("h")
    val ev = evAll.join(rare, Seq("h"), "left_semi")
    val tr0 = trAll.join(rare, Seq("h"), "left_semi")
    val tr = bloomCapacity match {
      case Some(cap) =>
        // the filter is built DISTRIBUTED (mergeable bitset-OR aggregate) and
        // reaches the probe as an uncorrelated SCALAR SUBQUERY — evaluated
        // once per execution and fed in as a constant, so the probe decodes
        // the capacity-bounded bitset once per task (Spark's own
        // InjectRuntimeFilter architecture), and building this DataFrame
        // stays LAZY (no job until an action). Feeding the bytes through a
        // join column instead would copy + decode the filter PER ROW (row
        // accessors copy binary values) — measured as a 100× slowdown.
        val bloom = Bridge.scalarSubquery(ev.agg(Native.bloom(col("h"), cap, 0.01).as("bf")))
        tr0.filter(Native.mightContain(Bridge.columnOf(bloom), col("h")))
      case None => tr0
    }
    tr.join(ev, Seq("h"))
      .groupBy("train_doc", "eval_doc").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .groupBy("train_doc")
      .agg(count(lit(1)).as("n_eval_matches"), max(col("shared")).cast("long").as("max_shared"))
      .orderBy("train_doc")
  }

  val decontaminate = Q(
    "q_decontaminate",
    (s, d) => {
      val docs = Tables.documents(s, d)
      decontaminationReport(
        docs.filter(col("source") =!= "src0"), docs.filter(col("source") === "src0"))
    },
    """WITH sh AS MATERIALIZED (
      |  SELECT DISTINCT doc_id, source, ('0x'||substr(md5(t[i+1] || ' ' || t[i+2]),1,8))::BIGINT AS h
      |  FROM (SELECT doc_id, source, string_split(text,' ') AS t FROM documents
      |        WHERE len(string_split(text,' ')) >= 2),
      |       unnest(range(len(t)-1)) AS u(i)),
      |rare AS MATERIALIZED (SELECT h FROM sh GROUP BY h HAVING count(*) <= 100),
      |tr AS (SELECT doc_id, h FROM sh WHERE source <> 'src0' AND h IN (SELECT h FROM rare)),
      |ev AS (SELECT doc_id, h FROM sh WHERE source = 'src0' AND h IN (SELECT h FROM rare)),
      |hits AS (
      |  SELECT tr.doc_id AS train_doc, ev.doc_id AS eval_doc, count(*) AS shared
      |  FROM tr JOIN ev ON tr.h = ev.h
      |  GROUP BY 1, 2 HAVING count(*) >= 5)
      |SELECT train_doc, count(*) AS n_eval_matches, CAST(max(shared) AS BIGINT) AS max_shared
      |FROM hits GROUP BY 1 ORDER BY train_doc""".stripMargin
  )

  /** Decontamination with a Bloom-filter runtime pre-filter — the 100 TB
    * refinement of `q_decontaminate`. The eval side's shingle hashes are
    * aggregated into a fixed-size Bloom filter (`graft_bloom`: bitset-OR
    * mergeable, a few hundred KB regardless of corpus size), materialized
    * once and inlined as a literal; the TRAINING side — the 100 TB relation —
    * is probed with `graft_might_contain` inside its scan filter, so the
    * overwhelming non-contaminated majority is cut BEFORE the shuffle the
    * exact equi-join needs. No false negatives + exact verify join ⇒
    * bit-identical to the un-prefiltered query (the oracle is the same SQL);
    * the fpp knob only trades filter size against shuffle savings. Same
    * architecture as Spark's internal InjectRuntimeFilter, exposed as a
    * user-callable pair so a pipeline can build the filter once and reuse it
    * across many scans.
    */
  val decontaminateBloom = Q(
    "q_decontaminate_bloom",
    (s, d) => {
      val docs = Tables.documents(s, d)
      decontaminationReport(
        docs.filter(col("source") =!= "src0"), docs.filter(col("source") === "src0"),
        bloomCapacity = Some(400000))
    },
    decontaminate.oracle
  )

  /** The dedup DELIVERABLE as a corpus: greedy pairwise near-dup removal —
    * drop every document that is the HIGHER id of a MinHash near-dup pair,
    * keep everything else. (The cluster-rep policy lives in
    * `q_dedup_clusters`; this is the cheap one-pass policy real pipelines
    * default to.) One anti-join of the corpus against the (tiny) distinct
    * drop list — AQE broadcasts it; the corpus is never shuffled.
    */
  val dedupKeep = Q(
    "q_dedup_keep",
    (s, d) => {
      val drop = nearDupPairTable(s, d)
        .select(col("d2").as("doc_id")).distinct()
      Tables.documents(s, d)
        .join(drop, Seq("doc_id"), "left_anti")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    },
    s"""WITH pairs AS (
       |  SELECT d1, d2 FROM (${minhash.oracle.replace("ORDER BY d1, d2", "")}))
       |SELECT doc_id, lang, source FROM documents
       |WHERE doc_id NOT IN (SELECT DISTINCT d2 FROM pairs)
       |ORDER BY doc_id""".stripMargin
  )

  /** Paragraph-level exact dedup — the C4/RefinedWeb span rule: a corpus
    * repeating the same span across documents keeps ONE copy of it (the
    * lowest (doc_id, position) occurrence) and every other document loses
    * that span, with the surviving spans reassembled in order. "Paragraph"
    * here is a fixed window of `wordsPerPara` consecutive words (the corpus
    * has no structural delimiters), which keeps the rule deterministic and
    * oracle-expressible.
    *
    * Scale shape, all bucketed: split/window is row-local; the span
    * frequency table is ONE digest hash-aggregate; the keep decision is an
    * equi-join on the digest (never a self-join of the corpus); reassembly
    * groups by doc_id with per-doc bounded state (documents are bounded, so
    * collect_list here is, too — this is the q_event_sequences discipline,
    * not a global window). The keeper tiebreak packs (doc_id, position)
    * into one BIGINT (positions are < 2^20 per doc by construction) so both
    * engines take the same min without struct-ordering semantics.
    * Documents whose every span was dropped (pure duplicates) disappear —
    * the same contract as the doc-level keep policies.
    */
  def paragraphDedupedText(documents: DataFrame, wordsPerPara: Int = 20): DataFrame = {
    val paras = documents
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, cast(ceil(size(ws)/${wordsPerPara}.0) as int) - 1), " +
          s"i -> array_join(slice(ws, i*$wordsPerPara + 1, $wordsPerPara), ' '))")))
      .select(col("doc_id"), col("pos").as("p"), col("col").as("para"))
    val spanKey = col("doc_id") * lit(1048576L) + col("p")
    val dfreq = paras.groupBy(md5(col("para")).as("dg"))
      .agg(count(lit(1)).as("c"), min(col("doc_id") * lit(1048576L) + col("p")).as("keeper"))
    paras.withColumn("dg", md5(col("para")))
      .join(dfreq, Seq("dg"))
      .filter(col("c") === 1L || spanKey === col("keeper"))
      .groupBy(col("doc_id"))
      .agg(
        expr("array_join(transform(array_sort(collect_list(struct(p, para))), x -> x.para), ' ')")
          .as("text_kept"),
        count(lit(1)).as("n_kept"))
  }

  val dedupParagraph = Q(
    "q_dedup_paragraph",
    (s, d) => paragraphDedupedText(Tables.documents(s, d)).orderBy("doc_id"),
    """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |paras AS (
      |  SELECT doc_id, i AS p, array_to_string(w[i*20+1 : i*20+20], ' ') AS para
      |  FROM ws, unnest(range(CAST(ceil(len(w)/20.0) AS BIGINT))) AS t(i)),
      |df AS (SELECT md5(para) AS dg, count(*) AS c, min(doc_id * 1048576 + p) AS keeper
      |       FROM paras GROUP BY 1),
      |kept AS (SELECT p.doc_id, p.p, p.para FROM paras p JOIN df ON md5(p.para) = df.dg
      |         WHERE df.c = 1 OR p.doc_id * 1048576 + p.p = df.keeper)
      |SELECT doc_id, string_agg(para, ' ' ORDER BY p) AS text_kept, count(*) AS n_kept
      |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin
  )

  /** DATASET OVERLAP MATRIX — pairwise shingle-Jaccard between corpus
    * SOURCES (shards): the leakage diagnostic run before mixing shards into
    * a training corpus (high overlap between a train shard and a benchmark
    * shard is contamination; between two train shards, wasted epochs).
    * Scale shape: ONE shingle-grain aggregate dedups sources per shingle
    * (collect_set, bounded by #shards — no corpus-grain DISTINCT shuffle and
    * no shingle-level self-join in the plan, though the oracle states one);
    * each shingle emits its (s, s) self-pairs alongside the unordered
    * (s1 < s2) pairs, so the diagonal of the same count table supplies the
    * per-source set sizes; union sizes are |A|+|B|−|A∩B| from those counts.
    */
  /** The overlap matrix over any (doc_id, text, source) corpus — the body of
    * `q_source_overlap`, reusable on arbitrary shard layouts (and driven on
    * an engineered-overlap corpus by SourceOverlapSpec).
    */
  def sourceOverlapMatrix(docs: DataFrame, n: Int = 2): DataFrame = {
    // source rides the shingle explode (it is a column of the same corpus
    // row), so the former doc_id equi-join back to the corpus and BOTH
    // corpus-grain DISTINCT shuffles are gone: ONE shingle-grain aggregate
    // dedups sources per shingle (collect_set partials merge map-side), and
    // the per-source set sizes fall out of the SAME aggregate by emitting
    // the (s, s) self pair alongside every unordered (s1 < s2) pair —
    // diagonal counts = |per-source shingle set|, off-diagonal = n_shared.
    // The count table is ≤ n_sources² rows; checkpointed because it feeds
    // three consumers and exchange reuse does not collapse such branches.
    val occ = docs
      .select(col("source"), TextFns.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= n)
      .select(col("source"), explode(sequence(lit(0), size(col("t")) - n)).as("i"), col("t"))
      .select(col("source"),
        concat_ws(" ", (1 to n).map(k => element_at(col("t"), col("i") + k)): _*).as("sh"))
    val counts = occ.groupBy(col("sh"))
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
      .select(explode(expr(
        "flatten(transform(srcs, (x, i) -> transform(slice(srcs, i + 1, size(srcs)), y -> struct(x AS s1, y AS s2))))")).as("p"))
      .select(col("p.s1"), col("p.s2"))
      .groupBy(col("s1"), col("s2")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val sizes = counts.filter(col("s1") === col("s2"))
      .select(col("s1").as("source"), col("c").as("n"))
    counts.filter(col("s1") < col("s2"))
      .select(col("s1"), col("s2"), col("c").as("n_shared"))
      .join(sizes.select(col("source").as("s1"), col("n").as("na")), Seq("s1"))
      .join(sizes.select(col("source").as("s2"), col("n").as("nb")), Seq("s2"))
      .select(col("s1"), col("s2"), col("n_shared"),
        round(col("n_shared") / (col("na") + col("nb") - col("n_shared")), 6).as("jaccard"))
      .orderBy("s1", "s2")
  }

  val sourceOverlap = Q(
    "q_source_overlap",
    (s, d) => sourceOverlapMatrix(Tables.documentsSpread(s, d)),
    s"""WITH sh AS (${TextFns.shinglesSql(2)}),
       |ss AS (SELECT DISTINCT d.source, s.sh FROM sh s JOIN documents d USING (doc_id)),
       |sizes AS (SELECT source, count(*) AS n FROM ss GROUP BY 1),
       |inter AS (SELECT a.source AS s1, b.source AS s2, count(*) AS n_shared
       |          FROM ss a JOIN ss b ON a.sh = b.sh AND a.source < b.source
       |          GROUP BY 1, 2)
       |SELECT s1, s2, n_shared,
       |       round(n_shared / (n1.n + n2.n - n_shared), 6) AS jaccard
       |FROM inter JOIN sizes n1 ON n1.source = s1 JOIN sizes n2 ON n2.source = s2
       |ORDER BY s1, s2""".stripMargin
  )

  /** Banded hamming near-dup pairs over a (doc_id, ph) fingerprint relation —
    * the candidate-generation + verify half of the perceptual-hash family,
    * shared by [[phashPairs]]' oracle-checked 32-bit signature path and the
    * REAL javax.imageio dHash64 path ([[Multimodal.dhashMedia]],
    * spec-verified in MultimodalSpec): the fingerprint is split into
    * `nBands` bands of `bandBits` bits via exact bit shifts (never
    * float pow — a 64-bit hash overflows a double mantissa), candidates come
    * from the band equi-join (pigeonhole: hamming ≤ nBands−1 guarantees an
    * intact band), and exact `bit_count(xor)` verifies ≤ `maxHamming`.
    */
  def hammingPairs(ph: DataFrame, nBands: Int, bandBits: Int,
                   maxHamming: Long): DataFrame = {
    val mask = (1L << bandBits) - 1
    val blocks = ph
      .select(col("doc_id"), col("ph"), explode(sequence(lit(0), lit(nBands - 1))).as("b"))
      .withColumn("bv", expr(s"shiftrightunsigned(ph, CAST(b AS INT) * $bandBits) & ${mask}L"))
    val hamming = bit_count(col("p1").bitwiseXOR(col("p2"))).cast("long")
    blocks.select(col("doc_id").as("d1"), col("ph").as("p1"), col("b"), col("bv"))
      .join(blocks.select(col("doc_id").as("d2"), col("ph").as("p2"), col("b"), col("bv")),
        Seq("b", "bv"))
      .filter(col("d1") < col("d2") && hamming <= maxHamming)
      .select(col("d1"), col("d2"), hamming.as("hamming"))
      .distinct()
  }

  /** PERCEPTUAL-HASH near-dup pairs — the IMAGE modality of the dedup family
    * (text: MinHash/SimHash/n-gram; embeddings: cosine; images: THIS). The
    * dHash construction: a per-payload locality-sensitive vector stands in
    * for the downsampled grayscale grid (the 32-perm minhash signature has
    * exactly the property dHash needs: similar payloads agree on most
    * components), and the hash bit j is the GRADIENT comparison
    * v[j] < v[(j+1) mod 32] — a 32-bit fingerprint whose hamming distance
    * tracks payload similarity. Near-dup candidates come from a 4×8-bit
    * BAND equi-join (pigeonhole: hamming ≤ 3 ⟹ at least one intact band,
    * covering the ≤ 2 threshold with margin) — never all-pairs — and exact
    * hamming verifies, all via the shared [[hammingPairs]]. The REAL image
    * decoder exists and feeds the SAME pipeline: [[Multimodal.dhashMedia]]
    * decodes actual PNG and JPEG pixels with javax.imageio, box-downsamples to the
    * canonical 9×8 luma grid and emits a 64-bit dHash that flows through
    * [[hammingPairs]] unchanged (MultimodalSpec pins it on crafted
    * fixtures); this query keeps the hash-derived signature so the stage
    * stays oracle-checkable bit-for-bit.
    */
  val phashPairs = Q(
    "q_phash_pairs",
    (s, d) => {
      val sig = minhashSignatures(Tables.documentsSpread(s, d), 2, 32)
        .select(col("doc_id"), expr(
          """aggregate(sequence(0, 31), 0L, (acc, j) ->
            |  acc + IF(element_at(sig, CAST(j AS INT) + 1)
            |             < element_at(sig, CAST((j + 1) % 32 AS INT) + 1),
            |           shiftleft(1L, CAST(j AS INT)), 0L))""".stripMargin).as("ph"))
        .localCheckpoint()
      hammingPairs(sig, nBands = 4, bandBits = 8, maxHamming = 2L)
        .orderBy("d1", "d2")
    },
    s"""WITH sh AS (${TextFns.shinglesSql(2)}),
       |hashed AS (SELECT DISTINCT doc_id, ${TextFns.hash32Sql("sh")} AS h FROM sh),
       |perms AS (
       |  SELECT j, 2*${TextFns.hash28Sql("'a'||CAST(j AS VARCHAR)")}+1 AS a,
       |         ${TextFns.hash28Sql("'b'||CAST(j AS VARCHAR)")} AS b
       |  FROM unnest(range(32)) AS t(j)),
       |sig AS (SELECT doc_id, j, min((a*h + b) % $P) AS mh FROM hashed, perms GROUP BY doc_id, j),
       |ph AS (
       |  SELECT s1.doc_id,
       |         CAST(sum(CASE WHEN s1.mh < s2.mh THEN CAST(power(2, s1.j) AS BIGINT) ELSE 0 END) AS BIGINT) AS ph
       |  FROM sig s1 JOIN sig s2 ON s1.doc_id = s2.doc_id AND s2.j = (s1.j + 1) % 32
       |  GROUP BY s1.doc_id),
       |blocks AS (
       |  SELECT doc_id, ph, b, CAST(floor(ph/power(2, b*8)) AS BIGINT) % 256 AS bv
       |  FROM ph, unnest(range(4)) AS u(b)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2, a.ph AS p1, b.ph AS p2
       |  FROM blocks a JOIN blocks b ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id)
       |SELECT d1, d2, CAST(bit_count(xor(p1, p2)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(p1, p2)) <= 2
       |ORDER BY d1, d2""".stripMargin
  )

  /** CONSECUTIVE-duplicate compaction — the CDC/run-length flavor of dedup:
    * within each user's event stream (time, id ordered), drop a row iff it
    * repeats the immediately preceding event_type, keeping the first of each
    * run (the state-transition log a changelog consumer actually wants;
    * [[operators.Analytics.scd2]] builds versioned intervals from exactly
    * this compaction). One shuffle on user_id for the lag window; the
    * comparison is row-local. IS DISTINCT FROM semantics via the null-safe
    * equality's negation so a NULL-typed first row is kept, same as the
    * oracle's lag() IS DISTINCT FROM.
    */
  val dedupConsecutive = Q(
    "q_dedup_consecutive",
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(not(col("prev") <=> col("event_type")))
        .select(col("user_id"), col("event_id"), col("event_type"))
        .orderBy("user_id", "event_id")
    },
    """WITH o AS (
      |  SELECT user_id, event_id, event_type,
      |         lag(event_type) OVER (PARTITION BY user_id
      |                               ORDER BY epoch_ns(ts), event_id) AS prev
      |  FROM events)
      |SELECT user_id, event_id, event_type
      |FROM o WHERE prev IS DISTINCT FROM event_type
      |ORDER BY user_id, event_id""".stripMargin
  )

  /** N-GRAM NOVELTY SCAN — the temporal complement of [[dupCoverage]]: not
    * "is this shingle duplicated anywhere" but "had the corpus already seen
    * it when this document ARRIVED" (doc_id is ingestion order here). Per
    * document: distinct 3-gram shingles, how many first occurred in an
    * EARLIER document, and the novelty fraction — the memorization-risk /
    * content-freshness signal a crawl pipeline tracks per snapshot (a
    * collapsing novelty curve means the crawler is re-reading the web).
    *
    * Scale shape (round 15, HASHED-shingle grain — the decontamination
    * convention): the per-doc distinct shingle HASHES come out of the
    * native `graft_shingle_hashes` expression — row-local md5-prefix work,
    * no explode→concat→global-DISTINCT shuffle of shingle STRINGS (that
    * build alone was 3.6 s of the old 10.3 s at sf1; the whole query is now
    * 2.4 s). ONE explicit repartition on the 32-bit hash feeds both the
    * first-occurrence min-aggregate AND the probe side of the join —
    * checkpointed at (long, long) grain, everything above it
    * partition-local until the final per-doc aggregate. Nothing is
    * broadcast (both sides are corpus-sized), nothing is collected; at
    * 100 TB the first-occurrence relation is the thing you'd materialize
    * next to the corpus and MERGE per snapshot, and this plan is exactly
    * that build + probe. Hash grain means colliding shingles (expected
    * pairs ≈ |shingles|²/2³³) merge — the standard production trade, taken
    * identically in the oracle, so the engines still agree bit-for-bit.
    */
  /** The novelty computation behind `q_ngram_novelty`, reusable on any
    * (doc_id, text) relation — factored so the planted-duplicate edge cases
    * (an exact copy scores 0, the first occurrence scores 1) are
    * unit-testable (NoveltySpec).
    */
  def ngramNoveltyReport(documents: DataFrame, n: Int = 3): DataFrame = {
    // per-doc hash dedup matches the oracle's DISTINCT doc_id, h (in-doc
    // 32-bit collisions count once)
    val sh = documents
      .select(col("doc_id"), explode(Native.shingleHashes(split(col("text"), " "), n)).as("h"))
      .repartition(col("h")).localCheckpoint()
    val first = sh.groupBy(col("h")).agg(min(col("doc_id")).as("first_doc"))
    sh.join(first, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") < col("doc_id"), 1L).otherwise(0L)).as("n_seen"))
      .select(col("doc_id"), col("n_shingles"), col("n_seen"),
        round(lit(1.0) - col("n_seen").cast("double") / col("n_shingles"), 6)
          .as("novelty"))
      .orderBy("doc_id")
  }

  val ngramNovelty = Q(
    "q_ngram_novelty",
    (s, d) => ngramNoveltyReport(Tables.documentsSpread(s, d)),
    s"""WITH shs AS (${TextFns.shinglesSql(3)}),
       |sh AS (SELECT DISTINCT doc_id, ${TextFns.hash32Sql("sh")} AS h FROM shs),
       |first AS (SELECT h, min(doc_id) AS first_doc FROM sh GROUP BY 1)
       |SELECT s.doc_id, count(*) AS n_shingles,
       |       CAST(sum(CASE WHEN first.first_doc < s.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_seen,
       |       round(1.0 - CAST(sum(CASE WHEN first.first_doc < s.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
       |             / count(*), 6) AS novelty
       |FROM sh s JOIN first ON s.h = first.h
       |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin
  )

  /** MINHASH ACCURACY EVAL — the sketch-calibration harness next to the ANN
    * recall report (Similarity.annRecall): for every LSH candidate pair,
    * the SIGNATURE-estimated Jaccard (fraction of the 32 permutations whose
    * minima agree — the unbiased estimator the sketch exists to provide)
    * against the exact shingle Jaccard, plus the absolute error. This is
    * how (numPerms, rowsPerBand) gets ACCEPTED for a corpus: at 100 TB the
    * exact leg never runs in production, but it runs on the candidate
    * sample to certify the estimator's error before anyone trusts the
    * threshold, and re-runs per snapshot as the shingle distribution drifts.
    *
    * Cost structure: identical to [[minhash]] (same signature build, same
    * band equi-join) plus one row-local zip_with over the two 32-long
    * signature arrays per pair — the estimate adds nothing to the shuffle.
    * n_match/32 is exactly representable (dyadic, ≤ 5 decimals), so the
    * rounded estimate cannot drift between engines.
    */
  /** [[minhashError]]'s body plus a release handle for its internal
    * signature cache — the [[minhashNearDupsWithCache]] convention: non-bench
    * callers (no session clearCache between queries) invoke the handle after
    * an action has consumed the report, instead of leaking executor cache
    * blocks.
    */
  private[graft] def minhashErrorWithCache(
      documents: DataFrame): (DataFrame, () => Unit) = {
    val sig = minhashSignatures(documents, 2, 32).persist()
    val bands = lshBands(sig, 32, 4)
    val cand = bands.select(col("doc_id").as("d1"), col("band"), col("bkey"))
      .join(bands.select(col("doc_id").as("d2"), col("band"), col("bkey")), Seq("band", "bkey"))
      .filter(col("d1") < col("d2"))
      .select("d1", "d2").distinct()
    val shared = size(array_intersect(col("hs1"), col("hs2"))).cast("long")
    val exactJ = shared.cast("double") /
      (size(col("hs1")).cast("long") + size(col("hs2")).cast("long") - shared)
    val nMatch = size(filter(zip_with(col("sg1"), col("sg2"), (x, y) => x === y),
      b => b)).cast("long")
    val estJ = nMatch.cast("double") / 32.0d
    cand
      .join(sig.select(col("doc_id").as("d1"), col("hs").as("hs1"), col("sig").as("sg1")), Seq("d1"))
      .join(sig.select(col("doc_id").as("d2"), col("hs").as("hs2"), col("sig").as("sg2")), Seq("d2"))
      .select(col("d1"), col("d2"), nMatch.as("n_match"),
        round(estJ, 6).as("est_jaccard"), round(exactJ, 6).as("jaccard"),
        round(abs(estJ - exactJ), 6).as("abs_err"))
      .orderBy("d1", "d2") -> (() => { sig.unpersist(); () })
  }

  val minhashError = Q(
    "q_minhash_error",
    // cache lifetime owned by the Bench/Verify clearCache convention here;
    // mid-pipeline callers use [[minhashErrorWithCache]]'s release handle
    (s, d) => minhashErrorWithCache(Tables.documentsSpread(s, d))._1,
    s"""WITH sh AS (${TextFns.shinglesSql(2)}),
       |hashed AS (SELECT DISTINCT doc_id, ${TextFns.hash32Sql("sh")} AS h FROM sh),
       |shn AS (SELECT doc_id, count(*) AS n FROM hashed GROUP BY doc_id),
       |perms AS (
       |  SELECT j, 2*${TextFns.hash28Sql("'a'||CAST(j AS VARCHAR)")}+1 AS a,
       |         ${TextFns.hash28Sql("'b'||CAST(j AS VARCHAR)")} AS b
       |  FROM unnest(range(32)) AS t(j)),
       |sig AS (SELECT doc_id, j, min((a*h + b) % $P) AS mh FROM hashed, perms GROUP BY doc_id, j),
       |bands AS (
       |  SELECT doc_id, CAST(floor(j/4.0) AS BIGINT) AS band,
       |         md5(string_agg(CAST(mh AS VARCHAR), '_' ORDER BY j)) AS bkey
       |  FROM sig GROUP BY doc_id, CAST(floor(j/4.0) AS BIGINT)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b ON a.band=b.band AND a.bkey=b.bkey AND a.doc_id < b.doc_id),
       |m AS (
       |  SELECT c.d1, c.d2, CAST(sum(CASE WHEN s1.mh = s2.mh THEN 1 ELSE 0 END) AS BIGINT) AS n_match
       |  FROM cand c JOIN sig s1 ON s1.doc_id = c.d1
       |              JOIN sig s2 ON s2.doc_id = c.d2 AND s1.j = s2.j
       |  GROUP BY 1, 2),
       |sh2 AS (
       |  SELECT c.d1, c.d2, count(*) AS shared
       |  FROM cand c JOIN hashed h1 ON h1.doc_id=c.d1 JOIN hashed h2 ON h2.doc_id=c.d2 AND h1.h=h2.h
       |  GROUP BY 1, 2)
       |SELECT m.d1, m.d2, m.n_match,
       |  round(CAST(m.n_match AS DOUBLE)/32, 6) AS est_jaccard,
       |  round(CAST(coalesce(sh2.shared, 0) AS DOUBLE)
       |        / (n1.n + n2.n - coalesce(sh2.shared, 0)), 6) AS jaccard,
       |  round(abs(CAST(m.n_match AS DOUBLE)/32
       |        - CAST(coalesce(sh2.shared, 0) AS DOUBLE)
       |          / (n1.n + n2.n - coalesce(sh2.shared, 0))), 6) AS abs_err
       |FROM m LEFT JOIN sh2 ON m.d1 = sh2.d1 AND m.d2 = sh2.d2
       |JOIN shn n1 ON n1.doc_id = m.d1 JOIN shn n2 ON n2.doc_id = m.d2
       |ORDER BY m.d1, m.d2""".stripMargin
  )

  /** The LSH S-curve: probability that a pair with exact Jaccard `j` shares
    * at least one of `nBands` bands of `rowsPerBand` rows each —
    * 1 − (1 − j^r)^b, the closed form every banding scheme trades on. The
    * inflection sits near (1/b)^(1/r) (≈ 0.59 for the production 8×4).
    */
  def lshCandidateProb(j: Double, rowsPerBand: Int, nBands: Int): Double =
    1.0 - math.pow(1.0 - math.pow(j, rowsPerBand), nBands)

  /** S-CURVE CONFIG SOLVER — the calibration loop's missing half, beside
    * [[minhashError]]'s measurement leg and the way `autoNprobe`/
    * `autoRerank` already derive ANN knobs from targets instead of
    * folklore: given the pair grade the corpus must CATCH (`jAccept`, e.g.
    * the measured Jaccard of its planted/observed near-dup class) and the
    * grade it must IGNORE (`jReject`), return the cheapest
    * (numPerms, rowsPerBand) whose S-curve clears both operating points:
    * candidate probability ≥ `minRecall` at jAccept and ≤ `maxFalsePos` at
    * jReject.
    *
    * Cheapest means: fewest permutations first (signature width — CPU and
    * shuffle bytes per document in the sketch build), then fewest bands
    * (each band is one exploded row per document in the LSH equi-join, so
    * bands multiply the join's shuffle). The search is closed-form and
    * driver-side over a dozen configs — nothing scans data; the DATA enters
    * through jAccept/jReject, which come from [[minhashError]]'s measured
    * (est_jaccard, jaccard) table on the live corpus. Returns None when no
    * config in the budget separates the two operating points — the honest
    * answer that says "widen the budget or move the thresholds", instead of
    * a silently mis-tuned sketch. LshCalibrationSpec pins that the
    * PRODUCTION (32, 4) config is exactly this solver's output for the
    * planted-near-dup operating points, and re-measures both rates on a
    * corpus with known pair grades.
    */
  def solveLsh(jAccept: Double, jReject: Double,
               minRecall: Double = 0.95, maxFalsePos: Double = 0.05,
               permsBudget: Seq[Int] = Seq(16, 32, 64, 128, 256)): Option[(Int, Int)] = {
    require(jAccept > jReject, s"jAccept $jAccept must exceed jReject $jReject")
    val feasible = for {
      p <- permsBudget.sorted
      r <- 1 to p if p % r == 0
      b = p / r
      if lshCandidateProb(jAccept, r, b) >= minRecall
      if lshCandidateProb(jReject, r, b) <= maxFalsePos
    } yield (p, r)
    // fewest perms, then fewest bands (= largest r within the perm budget)
    feasible.sortBy { case (p, r) => (p, p / r) }.headOption
  }

  val all: Seq[Q] = Seq(exact, minhash, simhash, simhashPairs, ngramJaccard, dupCoverage,
    containment, fuzzyMatch, clusters, decontaminate, decontaminateBloom, dedupKeep, dedupParagraph, sourceOverlap,
    dedupConsecutive, phashPairs, ngramNovelty, minhashError)
}
