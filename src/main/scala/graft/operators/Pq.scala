package graft.operators

import graft.{Q, Tables}
import graft.functions.Native
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the memory-scale path for similarity search.
  *
  * A 64-dim fp32 embedding (256 B) is split into M=8 subspaces of 8 dims;
  * each subspace gets its own 16-centroid codebook (k-means), and a vector is
  * stored as 8 four-bit codes = 8 bytes — 32× compression. 100 TB of raw
  * embeddings become ~3 TB of codes: the difference between "spills to disk
  * per query" and "the whole index lives in cluster RAM". Search is ADC
  * (asymmetric distance computation): per query, an M×16 table of partial
  * squared distances to every sub-centroid is computed ONCE (driver-side —
  * it is 128 doubles), broadcast, and each corpus row's approximate distance
  * is M table lookups — no per-pair float math at scan time. The top-R ADC
  * candidates are then re-ranked with exact cosine; R is the recall knob
  * (PqRecallSpec measures the curve, and R = corpus reproduces the exact
  * ranking bit-for-bit, proving the machinery loses nothing).
  *
  * Scale shape: training is `iters` fused jobs (assignment + recompute for
  * ALL M subspaces in one mapPartitions pass — only M×16×8 integer-quantized
  * sums per partition cross the wire, the lloydStep discipline from
  * [[Similarity]]); encoding is one map-side pass with the codebooks
  * broadcast; search scans codes map-side and shuffles only ≤R rows per
  * query for the re-rank join. Vectors are L2-normalized before training and
  * encoding so squared-L2 ADC order agrees with cosine order (‖a−b‖² =
  * 2−2·cos for unit vectors).
  *
  * Determinism: assignment ranks by (round(d²,6) asc, centroid id asc);
  * centroid recomputation sums integer micro-units — both order-free, so the
  * build is partitioning-invariant like the IVF build.
  */
object Pq {

  val M = 8        // subspaces
  val SubDim = 8   // dims per subspace (M * SubDim = 64)
  val Kc = 16      // centroids per subspace → 4-bit codes
  private val Dims = M * SubDim
  private val NQ = 5 // query vectors: vec_id < NQ (same protocol as annCosine)

  /** codebooks(m)(c) = sub-centroid c of subspace m, SubDim doubles */
  type Codebooks = Array[Array[Array[Double]]]

  // single home of the engines-agree rounding contract
  private def sparkRound(d: Double, scale: Int): Double =
    graft.functions.Rounding.sparkRound(d, scale)

  private def normalize(vec: Array[Float]): Array[Double] = {
    var n2 = 0d; var i = 0
    while (i < vec.length) { val x = vec(i).toDouble; n2 += x * x; i += 1 }
    val inv = if (n2 > 0) 1.0 / math.sqrt(n2) else 0.0
    Array.tabulate(vec.length)(j => vec(j).toDouble * inv)
  }

  /** Corpus as (vec_id, unit vector) — queries excluded, like annCosine. */
  private def corpusRdd(emb: DataFrame) =
    emb.filter(col("vec_id") >= NQ)
      .select(col("vec_id"), col("embedding"))
      .rdd.map { r =>
        (r.getLong(0), normalize(r.getSeq[Float](1).toArray))
      }

  private def sqDist(v: Array[Double], off: Int, c: Array[Double]): Double = {
    var d2 = 0d; var i = 0
    while (i < SubDim) { val t = v(off + i) - c(i); d2 += t * t; i += 1 }
    d2
  }

  /** Nearest sub-centroid by (round(d²,6), id) — the deterministic ranking. */
  private def assign(v: Array[Double], m: Int, cb: Array[Array[Double]]): Int = {
    val off = m * SubDim
    var best = 0; var bestD = Double.PositiveInfinity
    var c = 0
    while (c < cb.length) {
      val d = sparkRound(sqDist(v, off, cb(c)), 6)
      if (d < bestD) { best = c; bestD = d }
      c += 1
    }
    best
  }

  /** Train all M codebooks: seeds are the sub-vectors of vec_id 100..115
    * (the IVF build's seed policy), then `iters` fused Lloyd iterations —
    * ONE job per iteration covering every subspace.
    */
  def train(emb: DataFrame, iters: Int = 2): Codebooks = {
    val seeds = emb.filter(col("vec_id") >= 100 && col("vec_id") < (100 + Kc))
      .select(col("vec_id"), col("embedding"))
      .collect()
      .sortBy(_.getLong(0))
      .map(r => normalize(r.getSeq[Float](1).toArray))
    require(seeds.length == Kc, s"need $Kc seed vectors, got ${seeds.length}")
    var cb: Codebooks = Array.tabulate(M, Kc) { (m, c) =>
      java.util.Arrays.copyOfRange(seeds(c), m * SubDim, (m + 1) * SubDim)
    }
    val vecs = corpusRdd(emb)
    vecs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var it = 0
      while (it < iters) {
        val bc = vecs.sparkContext.broadcast(cb)
        val (sums, counts) = vecs.mapPartitions { rows =>
          val books = bc.value
          val sum = Array.fill(M, Kc)(new Array[Long](SubDim))
          val cnt = Array.fill(M)(new Array[Long](Kc))
          rows.foreach { case (_, v) =>
            var m = 0
            while (m < M) {
              val c = assign(v, m, books(m))
              val acc = sum(m)(c)
              var i = 0
              while (i < SubDim) {
                acc(i) += sparkRound(v(m * SubDim + i) * 1000000d, 0).toLong
                i += 1
              }
              cnt(m)(c) += 1
              m += 1
            }
          }
          Iterator.single((sum, cnt))
        }.reduce { case ((s1, c1), (s2, c2)) =>
          var m = 0
          while (m < M) {
            var c = 0
            while (c < Kc) {
              var i = 0
              while (i < SubDim) { s1(m)(c)(i) += s2(m)(c)(i); i += 1 }
              c1(m)(c) += c2(m)(c)
              c += 1
            }
            m += 1
          }
          (s1, c1)
        }
        bc.unpersist()
        cb = Array.tabulate(M, Kc) { (m, c) =>
          val n = counts(m)(c)
          if (n == 0) cb(m)(c) // empty cell keeps its centroid, as in lloydStep
          else Array.tabulate(SubDim)(i =>
            sparkRound(sums(m)(c)(i).toDouble / (n.toDouble * 1000000.0d), 9))
        }
        it += 1
      }
      cb
    } finally { vecs.unpersist(blocking = false); () }
  }

  /** Encode the corpus: (vec_id, 8 one-byte codes). Map-side only. */
  def encode(emb: DataFrame, cb: Codebooks): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val bc = s.sparkContext.broadcast(cb)
    corpusRdd(emb).map { case (id, v) =>
      val books = bc.value
      val codes = new Array[Byte](M)
      var m = 0
      while (m < M) { codes(m) = assign(v, m, books(m)).toByte; m += 1 }
      (id, codes)
    }.toDF("vec_id", "codes")
  }

  /** Depth-INDEPENDENT ADC candidate relation (q_id, c_id, adc_dist): the
    * per-query M×Kc distance tables are driver-computed (128 doubles each —
    * queries are the tiny side) and broadcast into one map-side pass over
    * the encoded corpus. Built once per index; every re-rank depth is just
    * a filter over it (autoRerank persists it across the ladder walk).
    */
  private def adcCandidates(emb: DataFrame, cb: Codebooks): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val queries = emb.filter(col("vec_id") < NQ)
      .select(col("vec_id"), col("embedding")).collect()
      .sortBy(_.getLong(0))
      .map(r => (r.getLong(0), normalize(r.getSeq[Float](1).toArray)))
    val tables: Array[(Long, Array[Array[Double]])] = queries.map { case (qid, qv) =>
      (qid, Array.tabulate(M, Kc)((m, c) => sqDist(qv, m * SubDim, cb(m)(c))))
    }
    val bc = s.sparkContext.broadcast(tables)
    encode(emb, cb).rdd.map { r => (r.getLong(0), r.getAs[Array[Byte]](1)) }
      .mapPartitions { rows =>
        val ts = bc.value
        rows.flatMap { case (cid, cs) =>
          ts.iterator.map { case (qid, t) =>
            var d = 0d; var m = 0
            while (m < M) { d += t(m)(cs(m) & 0xf); m += 1 }
            (qid, cid, sparkRound(d, 6))
          }
        }
      }.toDF("q_id", "c_id", "adc_dist")
  }

  /** Exact re-rank of the top-`rerank` ADC candidates to final top-`k`,
    * scored with the SAME rounded cosine + tie rules as cosineTopK so
    * full-depth re-rank reproduces it bit-for-bit. Shortlisting goes through
    * the partial-aggregable `graft_topk` heap, so only ≤rerank rows per
    * query PER PARTITION reach the exchange (score = −adc_dist makes the
    * heap's "score desc, smaller id on ties" contract the total order
    * (adc_dist asc, c_id asc) at every depth, which is what makes
    * shortlist(R₁) ⊆ shortlist(R₂) and hence recall monotone).
    */
  private def rerankTop(emb: DataFrame, cand: DataFrame, k: Int, rerank: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val shortlist = cand.groupBy("q_id")
      .agg(Native.topk(-col("adc_dist"), col("c_id"), rerank).as("top"))
      .select(col("q_id"), explode(col("top")).as("t"))
      .select(col("q_id"), col("t.id").as("c_id"))
    val q = emb.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val c = emb.filter(col("vec_id") >= NQ)
      .select(col("vec_id").as("c_id"), col("embedding").as("ce"),
        sqrt(graft.functions.VecFns.sqNorm(col("embedding"))).as("cnorm"))
    shortlist
      .join(c, Seq("c_id"))
      .join(broadcast(q.withColumn("qnorm", sqrt(graft.functions.VecFns.sqNorm(col("qe"))))), Seq("q_id"))
      .select(col("q_id"), col("c_id"),
        round(graft.functions.VecFns.dot(col("qe"), col("ce")) / (col("qnorm") * col("cnorm")), 6)
          .as("score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("score").desc, col("c_id"))))
      .filter(col("rank") <= k)
      .orderBy("q_id", "rank")
  }

  /** ADC search: approximate top-`rerank` by code-table lookups (map-side
    * over the encoded corpus), then exact cosine re-rank of those candidates
    * to final top-`k`. Output matches cosineTopK's (q_id, c_id, score, rank)
    * so recall is directly comparable.
    */
  def adcTopK(emb: DataFrame, cb: Codebooks, k: Int, rerank: Int): DataFrame =
    rerankTop(emb, adcCandidates(emb, cb), k, rerank)

  /** Bytes per vector after encoding (codes only) vs raw fp32 — the
    * compression contract asserted by PqRecallSpec.
    */
  def compressionRatio: Double = (Dims * 4).toDouble / M

  /** The doubling re-rank ladder walked by [[autoRerank]]: 25, 50, 100, …
    * capped at the corpus size `n`. ONE home for the ladder constant so the
    * minimality assertions in PqRecallSpec test the real ladder instead of
    * re-deriving it.
    */
  def ladder(n: Int): Seq[Int] =
    Iterator.iterate(25)(_ * 2).takeWhile(_ < n).toSeq :+ n

  /** Smallest re-rank depth on a doubling ladder whose measured recall@k vs
    * the exact brute-force ranking meets `targetRecall` — the PQ twin of
    * [[Similarity.autoNprobe]]. The ladder tops out at the corpus size,
    * where full-depth re-rank ≡ exact (PqRecallSpec's invariant), so a
    * reachable target always terminates; an unreachable one (> 1.0 recall)
    * is rejected up front.
    */
  def autoRerank(emb: DataFrame, cb: Codebooks, k: Int,
                 targetRecall: Double): (Int, Double) = {
    require(targetRecall <= 1.0, s"targetRecall must be <= 1.0: $targetRecall")
    def topsOf(df: DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("c_id"))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val n = emb.filter(col("vec_id") >= NQ).count().toInt
    val exact = topsOf(Similarity.cosineTopK(emb, k))
    // encode + score ONCE: the candidate relation is depth-independent,
    // so the ladder walk re-filters it instead of re-running the index
    val cand = adcCandidates(emb, cb).persist()
    try {
      val walked = ladder(n).iterator.map { depth =>
        val got = topsOf(rerankTop(emb, cand, k, depth))
        val rs = exact.toSeq.map { case (q, top) =>
          got.getOrElse(q, Set.empty).intersect(top).size.toDouble / top.size
        }
        (depth, rs.sum / rs.size)
      }
      walked.find(_._2 >= targetRecall).getOrElse(
        throw new IllegalStateException("full-depth re-rank did not reach target " +
          "recall — the full-depth-equals-exact invariant is violated"))
    } finally { cand.unpersist(blocking = false); () }
  }

  // ---------------------------------------------------------------- oracle

  /** DuckDB twin of one assignment pass: nearest sub-centroid per (vector,
    * subspace) by (round(d², 6) asc, centroid id asc) against codebook `b`,
    * over the element-flattened normalized relation `v` (vid, m, i, nv).
    */
  private def assignSql(v: String, b: String, out: String): String =
    s"""${out}_d AS (
       |  SELECT v.vid, v.m, b.c, round(sum((v.nv - b.cd)*(v.nv - b.cd)), 6) AS d2
       |  FROM $v v JOIN $b b ON v.m = b.m AND v.i = b.i
       |  GROUP BY v.vid, v.m, b.c),
       |$out AS (
       |  SELECT vid, m, c FROM (
       |    SELECT vid, m, c, row_number() OVER (PARTITION BY vid, m ORDER BY d2, c) AS rn
       |    FROM ${out}_d) WHERE rn = 1)""".stripMargin

  /** DuckDB twin of the fused recompute: per-cell integer-microunit means
    * (round(nv·10⁶) summed as BIGINT, divided back, rounded to 9), with
    * empty cells KEEPING their previous centroid — exactly [[train]]'s rule.
    */
  private def recomputeSql(a: String, prev: String, out: String): String =
    s"""${out}_r AS (
       |  SELECT a.m, a.c, v.i,
       |    round(sum(CAST(round(v.nv*1000000) AS BIGINT)) / (count(*)*1000000.0), 9) AS cd
       |  FROM $a a JOIN cvec v ON v.vid = a.vid AND v.m = a.m
       |  GROUP BY a.m, a.c, v.i),
       |$out AS (
       |  SELECT m, c, i, cd FROM ${out}_r
       |  UNION ALL
       |  SELECT b.m, b.c, b.i, b.cd FROM $prev b
       |  WHERE NOT EXISTS (SELECT 1 FROM $a a WHERE a.m = b.m AND a.c = b.c))""".stripMargin

  /** Element-flattened, L2-NORMALIZED view of a vector table slice:
    * (vid, m, i, nv) with m = subspace, i = within-subspace position.
    */
  private def normElemSql(src: String, out: String): String =
    s"""${out}_e AS (SELECT vec_id AS vid, unnest(embedding) AS x, unnest(range($Dims)) AS k FROM $src),
       |${out}_n AS (SELECT vid, sqrt(sum(CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS nrm
       |             FROM ${out}_e GROUP BY vid),
       |$out AS (
       |  SELECT e.vid, CAST(e.k // $SubDim AS INTEGER) AS m, CAST(e.k % $SubDim AS INTEGER) AS i,
       |         CASE WHEN n.nrm > 0 THEN CAST(e.x AS DOUBLE)/n.nrm ELSE 0.0 END AS nv
       |  FROM ${out}_e e JOIN ${out}_n n ON e.vid = n.vid)""".stripMargin

  /** DuckDB twin of the whole PQ pipeline: normalize → seed codebooks from
    * vec_id 100..115 → two integer-quantized Lloyd iterations per subspace →
    * encode → per-query ADC tables summed by code lookup → top-32 shortlist
    * by (adc asc, id asc) → exact cosine re-rank of the shortlist to top-3 —
    * every rounding point (d² to 6, micro-units, means to 9, ADC totals to
    * 6, scores to 6) mirrors the Scala build, the same declarative-spec
    * discipline as [[Similarity]]'s q_ann_ivf oracle.
    */
  private lazy val annPqSql: String = {
    val R = 32
    s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= $NQ),
       |qv AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < $NQ),
       |${normElemSql("corpus", "cvec")},
       |${normElemSql("qv", "qvec")},
       |cb0 AS (SELECT m, CAST(vid - 100 AS INTEGER) AS c, i, nv AS cd
       |        FROM cvec WHERE vid >= 100 AND vid < ${100 + Kc}),
       |${assignSql("cvec", "cb0", "a0")},
       |${recomputeSql("a0", "cb0", "cb1")},
       |${assignSql("cvec", "cb1", "a1")},
       |${recomputeSql("a1", "cb1", "cb2")},
       |${assignSql("cvec", "cb2", "enc")},
       |tbl AS (
       |  SELECT q.vid AS q_id, q.m, b.c, sum((q.nv - b.cd)*(q.nv - b.cd)) AS pd
       |  FROM qvec q JOIN cb2 b ON q.m = b.m AND q.i = b.i
       |  GROUP BY q.vid, q.m, b.c),
       |adc AS (
       |  SELECT t.q_id, e.vid AS c_id, round(sum(t.pd), 6) AS adc_dist
       |  FROM enc e JOIN tbl t ON t.m = e.m AND t.c = e.c
       |  GROUP BY t.q_id, e.vid),
       |short AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, c_id) AS rn
       |    FROM adc) WHERE rn <= $R),
       |rs AS (
       |  SELECT q_id, c_id,
       |    sum(CAST(qx AS DOUBLE)*CAST(cx AS DOUBLE)) AS dot,
       |    sum(CAST(qx AS DOUBLE)*CAST(qx AS DOUBLE)) AS qn,
       |    sum(CAST(cx AS DOUBLE)*CAST(cx AS DOUBLE)) AS cn2
       |  FROM (SELECT s.q_id, s.c_id, unnest(q.embedding) AS qx, unnest(c.embedding) AS cx
       |        FROM short s JOIN qv q ON q.vec_id = s.q_id JOIN corpus c ON c.vec_id = s.c_id)
       |  GROUP BY q_id, c_id),
       |ranked AS (
       |  SELECT q_id, c_id, round(dot/(sqrt(qn)*sqrt(cn2)), 6) AS score,
       |    row_number() OVER (PARTITION BY q_id ORDER BY round(dot/(sqrt(qn)*sqrt(cn2)), 6) DESC, c_id) AS rank
       |  FROM rs)
       |SELECT q_id, c_id, score, CAST(rank AS BIGINT) AS rank FROM ranked
       |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin
  }

  /** PQ ADC search as an oracle-checked query: deterministic 2-iteration
    * codebook build, 8-byte encode, ADC shortlist at depth 32, exact
    * re-rank to top-3 — the full memory-scale ANN path under the same
    * hash-compare gate as the IVF and brute-force variants.
    */
  val annPq = Q(
    "q_ann_pq",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      adcTopK(emb, train(emb, iters = 2), k = 3, rerank = 32)
    },
    annPqSql
  )

  val all: Seq[Q] = Seq(annPq)
}
