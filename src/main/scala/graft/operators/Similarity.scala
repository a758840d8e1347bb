package graft.operators

import graft.{Q, Tables}
import graft.functions.{Native, TextFns, VecFns}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (array<float> column).
  *
  * Two plans for the same ask:
  *  - brute-force cosine top-k with the (tiny) query set broadcast — the
  *    baseline: corpus is scanned once, never shuffled, never self-joined;
  *  - random-hyperplane LSH: corpus and queries are bucketed by sign bits and
  *    candidates come from an equi-join on the bucket id — the 100 TB path.
  *
  * Scores are rounded to 6 decimals BEFORE ranking, and LSH sign tests use
  * dots rounded to 9, so ordering and bucketing are reproducible bit-for-bit
  * against the DuckDB oracle despite float-summation order differences.
  */
object Similarity {

  private val K = 5           // neighbours returned per query (brute force)
  private val NQ = 5          // query vectors: vec_id < NQ
  private val Planes = 8      // LSH hyperplanes → 2^8 buckets
  private val Dims = 64

  /** Brute-force cosine top-k: one corpus scan × broadcast queries. Norms are
    * precomputed per side (once per vector, not once per pair) so the per-pair
    * work is a single dot fold.
    */
  def cosineTopK(embeddings: DataFrame, k: Int): DataFrame = {
    val q = embeddings.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val c = embeddings.filter(col("vec_id") >= NQ)
      .select(col("vec_id").as("c_id"), col("embedding").as("ce"))
    val cos = Native.cosine(col("qe"), col("ce"))
    val scored = c.crossJoin(broadcast(q))
      .select(col("q_id"), col("c_id"), round(cos, 6).as("score"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("score").desc, col("c_id"))))
      .filter(col("rank") <= k)
      .orderBy("q_id", "rank")
  }

  val annCosine = Q(
    "q_ann_cosine",
    (s, d) => cosineTopK(Tables.embeddings(s, d), K),
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < $NQ),
       |c AS (SELECT vec_id AS c_id, embedding AS ce FROM embeddings WHERE vec_id >= $NQ),
       |sums AS (
       |  SELECT q_id, c_id,
       |    sum(CAST(qx AS DOUBLE)*CAST(cx AS DOUBLE)) AS dot,
       |    sum(CAST(qx AS DOUBLE)*CAST(qx AS DOUBLE)) AS qn,
       |    sum(CAST(cx AS DOUBLE)*CAST(cx AS DOUBLE)) AS cn
       |  FROM (SELECT q_id, c_id, unnest(qe) AS qx, unnest(ce) AS cx FROM q, c)
       |  GROUP BY q_id, c_id),
       |ranked AS (
       |  SELECT q_id, c_id, round(dot/(sqrt(qn)*sqrt(cn)), 6) AS score,
       |         row_number() OVER (PARTITION BY q_id ORDER BY round(dot/(sqrt(qn)*sqrt(cn)), 6) DESC, c_id) AS rank
       |  FROM sums)
       |SELECT q_id, c_id, score, CAST(rank AS BIGINT) AS rank FROM ranked
       |WHERE rank <= $K ORDER BY q_id, rank""".stripMargin
  )

  /** Plan-build-time twin of TextFns.hash32 (see TextFns.hashN — the single
    * home of the md5-hex-prefix contract).
    */
  private def h32(s: String): Long = TextFns.hashN(s, 8)

  /** Random-hyperplane sign-bit bucket as ONE projection: for each plane j the
    * dot product is a left fold of the embedding against a literal weight
    * array — no posexplode, no broadcast join, no aggregation, zero shuffles.
    * Weights derive from md5 exactly as the oracle regenerates them
    * (w = (hash32("p<j>_<k>") % 2001 - 1000)/1000); the fold accumulates in k
    * order, the same order the previous grouped-sum and the oracle's unnest
    * sum use, and dots are rounded to 9 before the sign test, so bucket ids
    * are bit-identical to the oracle's.
    */
  def lshBucketExpr(embedding: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until Planes).map { j =>
      val w = array((0 until Dims).map(k => lit((h32(s"p${j}_$k") % 2001L - 1000L) / 1000.0)): _*)
      val dj = round(
        aggregate(zip_with(embedding, w, (x, wk) => x.cast("double") * wk),
          lit(0.0), (acc, v) => acc + v), 9)
      when(dj >= 0.0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Embeddings with their LSH bucket attached — a single narrow projection
    * over the scan (the 100 TB shape: bucketing costs one pass, the only
    * shuffle in an LSH query is the candidate equi-join itself).
    *
    * zip_with pads a short array with nulls, which would silently force a
    * plane bit to 0 for a wrong-length embedding — so a dim != Dims vector
    * fails the job loudly here instead of corrupting its bucket.
    */
  def withLshBucket(embeddings: DataFrame): DataFrame = {
    val checked = when(size(col("embedding")) === Dims, col("embedding"))
      .otherwise(raise_error(concat(
        lit(s"graft: embedding dim != $Dims: "), size(col("embedding")).cast("string"))))
    // null embeddings get a null bucket (they drop out of the candidate
    // equi-join) rather than tripping the guard with a null error message
    embeddings.withColumn("bucket",
      when(col("embedding").isNull, lit(null).cast("long"))
        .otherwise(lshBucketExpr(checked)))
  }

  /** LSH ANN: candidates share a bucket (equi-join), cosine only on those. */
  def annLshTopK(embeddings: DataFrame, k: Int): DataFrame = {
    val withVec = withLshBucket(embeddings)
    val q = withVec.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("q_id"), col("bucket"), col("embedding").as("qe"))
    val c = withVec.filter(col("vec_id") >= NQ)
      .select(col("vec_id").as("c_id"), col("bucket"), col("embedding").as("ce"))
    val cos = Native.cosine(col("qe"), col("ce"))
    q.join(c, Seq("bucket"))
      .select(col("q_id"), col("c_id"), col("bucket"), round(cos, 6).as("score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("score").desc, col("c_id"))))
      .filter(col("rank") <= k)
      .orderBy("q_id", "rank")
  }

  val annLsh = Q(
    "q_ann_lsh",
    (s, d) => annLshTopK(Tables.embeddings(s, d), 3),
    s"""WITH planes AS (
       |  SELECT CAST(floor(i/$Dims.0) AS BIGINT) AS j, i % $Dims AS k,
       |    ((${TextFns.hash32Sql(s"'p'||CAST(CAST(floor(i/$Dims.0) AS BIGINT) AS VARCHAR)||'_'||CAST(i%$Dims AS VARCHAR)")} % 2001) - 1000)/1000.0 AS w
       |  FROM unnest(range(${Planes * Dims})) AS t(i)),
       |vx AS (SELECT vec_id, unnest(embedding) AS x, unnest(range($Dims)) AS k FROM embeddings),
       |dotj AS (SELECT vec_id, j, round(sum(CAST(x AS DOUBLE)*w), 9) AS dj
       |         FROM vx JOIN planes USING(k) GROUP BY vec_id, j),
       |buckets AS (SELECT vec_id, CAST(sum(CASE WHEN dj >= 0 THEN CAST(power(2,j) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
       |            FROM dotj GROUP BY vec_id),
       |q AS (SELECT b.vec_id AS q_id, b.bucket, e.embedding AS qe
       |      FROM buckets b JOIN embeddings e ON e.vec_id=b.vec_id WHERE b.vec_id < $NQ),
       |c AS (SELECT b.vec_id AS c_id, b.bucket, e.embedding AS ce
       |      FROM buckets b JOIN embeddings e ON e.vec_id=b.vec_id WHERE b.vec_id >= $NQ),
       |sums AS (
       |  SELECT q_id, c_id, bucket,
       |    sum(CAST(qx AS DOUBLE)*CAST(cx AS DOUBLE)) AS dot,
       |    sum(CAST(qx AS DOUBLE)*CAST(qx AS DOUBLE)) AS qn,
       |    sum(CAST(cx AS DOUBLE)*CAST(cx AS DOUBLE)) AS cn
       |  FROM (SELECT q.q_id, c.c_id, q.bucket, unnest(q.qe) AS qx, unnest(c.ce) AS cx
       |        FROM q JOIN c ON q.bucket = c.bucket)
       |  GROUP BY q_id, c_id, bucket),
       |ranked AS (
       |  SELECT q_id, c_id, bucket, round(dot/(sqrt(qn)*sqrt(cn)), 6) AS score,
       |         row_number() OVER (PARTITION BY q_id ORDER BY round(dot/(sqrt(qn)*sqrt(cn)), 6) DESC, c_id) AS rank
       |  FROM sums)
       |SELECT q_id, c_id, bucket, score, CAST(rank AS BIGINT) AS rank FROM ranked
       |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin
  )

  /** Embedding-cosine near-dup: pairs of corpus vectors sharing an LSH bucket
    * with cosine ≥ threshold. The all-pairs comparison never happens — the
    * bucket equi-join is the only pair generator, exactly the dedup shape the
    * ANN path uses for queries.
    */
  val dedupEmbed = Q(
    "q_dedup_embed",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val withVec = withLshBucket(emb)
      val a = withVec.select(col("vec_id").as("v1"), col("bucket"), col("embedding").as("qe"))
      val b = withVec.select(col("vec_id").as("v2"), col("bucket"), col("embedding").as("ce"))
      val cos = Native.cosine(col("qe"), col("ce"))
      a.join(b, Seq("bucket"))
        .filter(col("v1") < col("v2"))
        .select(col("v1"), col("v2"), col("bucket"), round(cos, 6).as("cosine"))
        .filter(col("cosine") >= 0.4)
        .orderBy("v1", "v2")
    },
    s"""WITH planes AS (
       |  SELECT CAST(floor(i/$Dims.0) AS BIGINT) AS j, i % $Dims AS k,
       |    ((${TextFns.hash32Sql(s"'p'||CAST(CAST(floor(i/$Dims.0) AS BIGINT) AS VARCHAR)||'_'||CAST(i%$Dims AS VARCHAR)")} % 2001) - 1000)/1000.0 AS w
       |  FROM unnest(range(${Planes * Dims})) AS t(i)),
       |vx AS (SELECT vec_id, unnest(embedding) AS x, unnest(range($Dims)) AS k FROM embeddings),
       |dotj AS (SELECT vec_id, j, round(sum(CAST(x AS DOUBLE)*w), 9) AS dj
       |         FROM vx JOIN planes USING(k) GROUP BY vec_id, j),
       |buckets AS (SELECT vec_id, CAST(sum(CASE WHEN dj >= 0 THEN CAST(power(2,j) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
       |            FROM dotj GROUP BY vec_id),
       |withvec AS (SELECT b.vec_id, b.bucket, e.embedding FROM buckets b JOIN embeddings e ON e.vec_id = b.vec_id),
       |sums AS (
       |  SELECT v1, v2, bucket,
       |    sum(CAST(qx AS DOUBLE)*CAST(cx AS DOUBLE)) AS dot,
       |    sum(CAST(qx AS DOUBLE)*CAST(qx AS DOUBLE)) AS qn,
       |    sum(CAST(cx AS DOUBLE)*CAST(cx AS DOUBLE)) AS cn
       |  FROM (SELECT a.vec_id AS v1, b.vec_id AS v2, a.bucket, unnest(a.embedding) AS qx, unnest(b.embedding) AS cx
       |        FROM withvec a JOIN withvec b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
       |  GROUP BY v1, v2, bucket)
       |SELECT v1, v2, bucket, round(dot/(sqrt(qn)*sqrt(cn)), 6) AS cosine FROM sums
       |WHERE round(dot/(sqrt(qn)*sqrt(cn)), 6) >= 0.4 ORDER BY v1, v2""".stripMargin
  )

  /** Nearest cells per vector under the given centroids: broadcast the (tiny)
    * centroid relation over one scan of `vecs`, rank by pre-rounded cosine +
    * cent_id so assignment is reproducible bit-for-bit in the oracle.
    */
  /** Nearest cells with the vector carried through (output: id, cell, qe) —
    * downstream candidate scoring then needs no join back to the embeddings.
    */
  private def nearestCells(vecs: DataFrame, cents: DataFrame, idAlias: String,
                           nprobe: Int): DataFrame = {
    val scored = vecs.select(col("vec_id").as(idAlias), col("embedding").as("qe"))
      .crossJoin(broadcast(cents))
      .select(col(idAlias), col("qe"), col("cent_id"),
        round(VecFns.cosine(col("qe"), col("ce")), 6).as("cscore"))
    if (nprobe == 1)
      // argmax as a hash aggregate (max_by over (score, -cent_id) breaks ties
      // identically to the window's ORDER BY cscore DESC, cent_id ASC) —
      // partial-aggregable map-side, no sort, the shape that matters for the
      // corpus-wide assignment passes
      scored.groupBy(col(idAlias))
        .agg(max_by(struct(col("cent_id"), col("qe")), struct(col("cscore"), -col("cent_id"))).as("m"))
        .select(col(idAlias), col("m.cent_id").as("cell"), col("m.qe").as("qe"))
    else
      scored
        .withColumn("rn", row_number().over(
          Window.partitionBy(idAlias).orderBy(col("cscore").desc, col("cent_id"))))
        .filter(col("rn") <= nprobe)
        .select(col(idAlias), col("cent_id").as("cell"), col("qe"))
  }

  /** Spark's `round(double, s)` exactly — HALF_UP over the shortest decimal
    * representation (`java.math.BigDecimal.valueOf`), NaN/Infinity passed
    * through — so driver-side build math stays bit-for-bit compatible with
    * the column-expression and DuckDB forms.
    */
  // single home of the engines-agree rounding contract
  private def sparkRound(d: Double, scale: Int): Double =
    graft.functions.Rounding.sparkRound(d, scale)

  /** One fused Lloyd iteration: assignment AND centroid recomputation in a
    * single `mapPartitions` pass + one tiny reduce — ONE Spark job, zero
    * shuffles, nothing but 16×(64 longs + a count) per partition crossing the
    * wire. The per-row math replicates the declarative form bit-for-bit:
    * cosine is the same left-fold double accumulation as [[VecFns.cosine]],
    * assignment ranks by (round(cos,6) desc, cent_id asc) like
    * [[nearestCells]], and the average quantizes each value to integer
    * micro-units (`round(x*1e6)` as BIGINT — exact, order-free sums) before
    * the single rounded division, exactly mirroring the oracle's
    * `recompute` CTE — so the result is bit-for-bit identical and
    * partitioning-invariant. Cells that lose all members drop out, as in the
    * group-by form.
    *
    * This replaces a per-iteration chain of broadcast-join + window + two
    * shuffled aggregates over fresh literal plans (re-analyzed and re-planned
    * every iteration — the round-4 bench's 9.9 s job storm) with k-means the
    * way Spark's own MLlib does it: data stays distributed, only index
    * metadata (16 × 64 doubles) ever touches the driver.
    */
  private def lloydStep(vecs: org.apache.spark.rdd.RDD[(Long, Array[Float])],
                        cents: Array[(Long, Array[Double])]): Array[(Long, Array[Double])] = {
    val bc = vecs.sparkContext.broadcast(cents)
    val dims = Dims
    val (sums, counts) = vecs.mapPartitions { it =>
      val cs = bc.value
      val sum = Array.fill(cs.length)(new Array[Long](dims))
      val cnt = new Array[Long](cs.length)
      it.foreach { case (_, vec) =>
        var best = 0
        var bestScore = Double.NegativeInfinity
        var bestId = Long.MaxValue
        var ci = 0
        while (ci < cs.length) {
          val ce = cs(ci)._2
          var dot = 0d; var qn = 0d; var cn = 0d
          var i = 0
          while (i < dims) {
            val x = vec(i).toDouble; val c = ce(i)
            dot += x * c; qn += x * x; cn += c * c
            i += 1
          }
          val score = sparkRound(dot / (math.sqrt(qn) * math.sqrt(cn)), 6)
          if (score > bestScore || (score == bestScore && cs(ci)._1 < bestId)) {
            best = ci; bestScore = score; bestId = cs(ci)._1
          }
          ci += 1
        }
        val acc = sum(best)
        var i = 0
        while (i < dims) { acc(i) += sparkRound(vec(i).toDouble * 1000000d, 0).toLong; i += 1 }
        cnt(best) += 1
      }
      Iterator.single((sum, cnt))
    }.reduce { case ((s1, c1), (s2, c2)) =>
      var ci = 0
      while (ci < s1.length) {
        var i = 0
        while (i < dims) { s1(ci)(i) += s2(ci)(i); i += 1 }
        c1(ci) += c2(ci)
        ci += 1
      }
      (s1, c1)
    }
    bc.unpersist()
    cents.indices.iterator.filter(counts(_) > 0).map { ci =>
      val n = counts(ci).toDouble
      (cents(ci)._1,
        Array.tabulate(dims)(i => sparkRound(sums(ci)(i).toDouble / (n * 1000000.0d), 9)))
    }.toArray
  }

  /** Full IVF search: k-means index build (2 fused Lloyd iterations from the
    * sampled seed vectors, vec_id 100..115) + `nprobe`-cell probe + exact
    * cosine ranking of the candidates. Only index metadata (16 × 64 centroid
    * doubles) is ever collected; the corpus is scanned 3× to build and ~2/16
    * probed per query batch at search. Exposed with tunable nprobe/k so the
    * recall/nprobe tradeoff is measurable (IvfRecallSpec); the registered
    * query uses nprobe=2, k=3.
    */
  /** The 2-Lloyd k-means index build shared by IVF search and SemDeDup:
    * deterministic seed vectors (vec_id 100..115), fused assignment+recompute
    * passes over the caller-persisted corpus, ONE literal centroid relation
    * out. Only index metadata (16 × 64 doubles) touches the driver.
    */
  private def kmeansCentroids(emb: DataFrame, corpus: DataFrame): DataFrame = {
    val s = emb.sparkSession
    val vecs = corpus.rdd.map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val seeds: Array[(Long, Array[Double])] = emb
      .filter(col("vec_id") >= 100L && col("vec_id") < 116L)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)
    val built = (1 to 2).foldLeft(seeds)((cs, _) => lloydStep(vecs, cs))
    import s.implicits._
    built.toSeq.map { case (id, ce) => (id, ce.toSeq) }.toDF("cent_id", "ce")
  }

  def ivfTopK(emb: DataFrame, nprobe: Int, k: Int): DataFrame = {
    // the build makes several passes over the corpus (2 Lloyd + the search
    // assignment) — cache the narrow projection once, as any k-means does
    // (Bench/Verify clearCache() between queries reclaims it)
    val corpus = emb.filter(col("vec_id") >= NQ)
      .select(col("vec_id"), col("embedding")).persist()
    val centroids = kmeansCentroids(emb, corpus)
    // vectors ride through the assignments, so the search is a broadcast of
    // the (tiny) probe set against corpus cells — no join back to the
    // embeddings table, no extra shuffles
    val probes = nearestCells(emb.filter(col("vec_id") < NQ), centroids, "q_id", nprobe)
    val cCells = nearestCells(corpus, centroids, "c_id", 1)
      .select(col("c_id"), col("cell"), col("qe").as("ce"))
    val cos = Native.cosine(col("qe"), col("ce"))
    broadcast(probes)
      .join(cCells, Seq("cell"))
      .select(col("q_id"), col("c_id"), col("cell"), round(cos, 6).as("score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("score").desc, col("c_id"))))
      .filter(col("rank") <= k)
      .orderBy("q_id", "rank")
  }

  val annIvf = Q(
    "q_ann_ivf",
    (s, d) => ivfTopK(Tables.embeddings(s, d), 2, 3),
    annIvfSql
  )

  /** SemDeDup-style SEMANTIC dedup (Abbas et al. 2023): k-means-cluster the
    * embeddings, then prune cosine-near pairs WITHIN each cluster — the
    * embedding-space twin of the shingle-based `q_dedup_clusters`. The
    * cluster assignment is the quadratic's cage: pairs are only generated
    * inside a cell (equi-join on the cell id), so the all-pairs comparison
    * never happens and the per-cell cost is O(|cell|²) — the paper's design
    * point is k ∝ N so cells stay bounded as the corpus grows (k is the
    * scale knob, not the threshold). Keep policy is the house pairwise
    * greedy: a vector is KEPT iff no same-cell neighbor with a smaller
    * vec_id scores ≥ the threshold — deterministic, oracle-expressible, and
    * the same min-id-keeps convention as the MinHash family. Reuses the IVF
    * build verbatim (deterministic seeds, fused Lloyd passes,
    * integer-quantized centroid sums) so the assignment is bit-for-bit the
    * oracle's; cosines are pre-rounded to 6 before the threshold test.
    * Output: per corpus vector (vec_id, cell, kept) — the full verdict
    * relation a curation pipeline joins against, not just the drop list.
    */
  def semanticDedup(emb: DataFrame, threshold: Double): DataFrame = {
    val corpus = emb.filter(col("vec_id") >= NQ)
      .select(col("vec_id"), col("embedding")).persist()
    val centroids = kmeansCentroids(emb, corpus)
    val cells = nearestCells(corpus, centroids, "c_id", 1)
    val a = cells.select(col("c_id").as("v1"), col("cell"), col("qe"))
    val b = cells.select(col("c_id").as("v2"), col("cell"), col("qe").as("ce"))
    val cos = Native.cosine(col("qe"), col("ce"))
    val drops = a.join(b, Seq("cell"))
      .filter(col("v1") < col("v2"))
      .select(col("v2"), round(cos, 6).as("cosine"))
      .filter(col("cosine") >= threshold)
      .select(col("v2").as("vec_id")).distinct()
    cells.select(col("c_id").as("vec_id"), col("cell"))
      .join(drops.withColumn("hit", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("hit").isNull.as("kept"))
      .orderBy("vec_id")
  }

  /** k-MEANS QA REPORT — the health check run after every index/SemDeDup
    * build: per cell, member count and mean cosine-to-centroid (cohesion).
    * A skewed size column says the seeds were bad; a low-cohesion cell says
    * its members will produce poor ANN recall and unreliable semantic-dedup
    * verdicts. Same build as q_ann_ivf/q_semantic_dedup; the report itself
    * is one broadcast argmax pass + one tiny grouped aggregate. The mean
    * goes through pre-rounded DECIMAL sums (the house partitioning-
    * invariance contract for float means).
    */
  val clusterStats = Q(
    "q_cluster_stats",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val corpus = emb.filter(col("vec_id") >= NQ)
        .select(col("vec_id"), col("embedding")).persist()
      val centroids = kmeansCentroids(emb, corpus)
      val cells = nearestCells(corpus, centroids, "c_id", 1)
      val cos = round(VecFns.cosine(col("qe"), col("ce")), 6)
      cells.join(broadcast(centroids.select(col("cent_id").as("cell"), col("ce"))), Seq("cell"))
        .select(col("cell"), cos.as("coh"))
        .groupBy("cell")
        .agg(count(lit(1)).as("n_vecs"),
          round(sum(col("coh").cast(org.apache.spark.sql.types.DecimalType(28, 9)))
            .cast("double") / count(lit(1)), 6).as("avg_cohesion"),
          round(min(col("coh")), 6).as("min_cohesion"))
        .orderBy("cell")
    },
    s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= $NQ),
       |cent0 AS (SELECT vec_id AS cent_id, embedding AS ce FROM embeddings
       |          WHERE vec_id >= 100 AND vec_id < 116),
       |${assignSql("corpus", "cent0", "a0")},
       |${recomputeSql("a0", "corpus", "cent1")},
       |${assignSql("corpus", "cent1", "a1")},
       |${recomputeSql("a1", "corpus", "cent2")},
       |${assignSql("corpus", "cent2", "a2")},
       |coh_s AS (
       |  SELECT a.vid, a.cell,
       |    sum(CAST(x AS DOUBLE)*CAST(cx AS DOUBLE)) AS dot,
       |    sum(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) AS qn,
       |    sum(CAST(cx AS DOUBLE)*CAST(cx AS DOUBLE)) AS cn
       |  FROM (SELECT a2.vid, a2.cell, unnest(c.embedding) AS x, unnest(t.ce) AS cx
       |        FROM a2 JOIN corpus c ON c.vec_id = a2.vid
       |        JOIN cent2 t ON t.cent_id = a2.cell) a
       |  GROUP BY a.vid, a.cell),
       |coh AS (SELECT vid, cell, round(dot/(sqrt(qn)*sqrt(cn)), 6) AS coh FROM coh_s)
       |SELECT cell, count(*) AS n_vecs,
       |  round(CAST(sum(CAST(coh AS DECIMAL(28,9))) AS DOUBLE) / count(*), 6) AS avg_cohesion,
       |  round(min(coh), 6) AS min_cohesion
       |FROM coh GROUP BY cell ORDER BY cell""".stripMargin
  )

  private val SemThreshold = "0.4"

  val semanticDedup_ = Q(
    "q_semantic_dedup",
    (s, d) => semanticDedup(Tables.embeddings(s, d), SemThreshold.toDouble),
    s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= $NQ),
       |cent0 AS (SELECT vec_id AS cent_id, embedding AS ce FROM embeddings
       |          WHERE vec_id >= 100 AND vec_id < 116),
       |${assignSql("corpus", "cent0", "a0")},
       |${recomputeSql("a0", "corpus", "cent1")},
       |${assignSql("corpus", "cent1", "a1")},
       |${recomputeSql("a1", "corpus", "cent2")},
       |${assignSql("corpus", "cent2", "a2")},
       |sums AS (
       |  SELECT v1, v2,
       |    sum(CAST(qx AS DOUBLE)*CAST(cx AS DOUBLE)) AS dot,
       |    sum(CAST(qx AS DOUBLE)*CAST(qx AS DOUBLE)) AS qn,
       |    sum(CAST(cx AS DOUBLE)*CAST(cx AS DOUBLE)) AS cn
       |  FROM (SELECT a.vid AS v1, b.vid AS v2, unnest(ca.embedding) AS qx, unnest(cb.embedding) AS cx
       |        FROM a2 a JOIN a2 b ON a.cell = b.cell AND a.vid < b.vid
       |        JOIN corpus ca ON ca.vec_id = a.vid JOIN corpus cb ON cb.vec_id = b.vid)
       |  GROUP BY v1, v2),
       |drops AS (SELECT DISTINCT v2 FROM sums
       |          WHERE round(dot/(sqrt(qn)*sqrt(cn)), 6) >= $SemThreshold)
       |SELECT a.vid AS vec_id, a.cell, (d.v2 IS NULL) AS kept
       |FROM a2 a LEFT JOIN drops d ON d.v2 = a.vid
       |ORDER BY vec_id""".stripMargin
  )

  /** Recall-targeted nprobe selection: walk the doubling nprobe ladder and
    * return the first (smallest) value whose MEASURED mean recall@k against
    * the exact brute-force top-k meets `targetRecall`, with the measured
    * value — the way an ANN deployment tunes its speed/recall knob from data
    * instead of folklore. Only the two tiny top-k result sets (|queries|·k
    * rows each) are ever collected; index builds reuse the persisted corpus
    * projection across ladder steps via the plan cache. Probing all cells has
    * recall 1.0 by construction (IvfRecallSpec), so the walk always
    * terminates at the full probe.
    */
  def autoNprobe(emb: DataFrame, k: Int, targetRecall: Double): (Int, Double) = {
    require(targetRecall <= 1.0, s"targetRecall must be <= 1.0: $targetRecall")
    def topsOf(df: DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("c_id"))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = topsOf(cosineTopK(emb, k).filter(col("rank") <= k))
    val ladder = Iterator.iterate(1)(_ * 2).takeWhile(_ < 16).toSeq :+ 16
    val walked = ladder.iterator.map { np =>
      val ivf = topsOf(ivfTopK(emb, np, k))
      val rs = exact.toSeq.map { case (q, top) =>
        ivf.getOrElse(q, Set.empty).intersect(top).size.toDouble / top.size
      }
      (np, rs.sum / rs.size)
    }
    walked.find(_._2 >= targetRecall).getOrElse(
      throw new IllegalStateException("full probe did not reach target recall — " +
        "index machinery violated its full-probe-equals-exact invariant"))
  }

  /** DuckDB twin of the k-means IVF build + nprobe=2 search. The assignment
    * and recompute CTEs are generated by the same private renderers for all
    * three iterations, exactly mirroring [[nearestCells]] and the fused
    * [[lloydStep]] quantized-average math.
    */
  private def assignSql(corpus: String, cents: String, out: String): String =
    s"""${out}_s AS (
       |  SELECT vid, cent_id,
       |    sum(CAST(x AS DOUBLE)*CAST(cx AS DOUBLE)) AS dot,
       |    sum(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) AS qn,
       |    sum(CAST(cx AS DOUBLE)*CAST(cx AS DOUBLE)) AS cn
       |  FROM (SELECT c.vec_id AS vid, t.cent_id, unnest(c.embedding) AS x, unnest(t.ce) AS cx
       |        FROM $corpus c, $cents t)
       |  GROUP BY vid, cent_id),
       |$out AS (
       |  SELECT vid, cent_id AS cell FROM (
       |    SELECT vid, cent_id,
       |      row_number() OVER (PARTITION BY vid ORDER BY round(dot/(sqrt(qn)*sqrt(cn)), 6) DESC, cent_id) AS rn
       |    FROM ${out}_s) WHERE rn = 1)""".stripMargin

  private def recomputeSql(assigned: String, corpus: String, out: String): String =
    s"""$out AS (
       |  SELECT cell AS cent_id, list(cd ORDER BY pos) AS ce FROM (
       |    SELECT cell, k AS pos,
       |      round(sum(CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT)) / (count(*)*1000000.0), 9) AS cd
       |    FROM (SELECT a.cell, unnest(c.embedding) AS x, unnest(range($Dims)) AS k
       |          FROM $assigned a JOIN $corpus c ON c.vec_id = a.vid)
       |    GROUP BY cell, k)
       |  GROUP BY cell)""".stripMargin

  private lazy val annIvfSql: String =
    s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= $NQ),
       |qv AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < $NQ),
       |cent0 AS (SELECT vec_id AS cent_id, embedding AS ce FROM embeddings
       |          WHERE vec_id >= 100 AND vec_id < 116),
       |${assignSql("corpus", "cent0", "a0")},
       |${recomputeSql("a0", "corpus", "cent1")},
       |${assignSql("corpus", "cent1", "a1")},
       |${recomputeSql("a1", "corpus", "cent2")},
       |${assignSql("corpus", "cent2", "a2")},
       |probe_s AS (
       |  SELECT vid, cent_id,
       |    sum(CAST(x AS DOUBLE)*CAST(cx AS DOUBLE)) AS dot,
       |    sum(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) AS qn,
       |    sum(CAST(cx AS DOUBLE)*CAST(cx AS DOUBLE)) AS cn
       |  FROM (SELECT q.vec_id AS vid, t.cent_id, unnest(q.embedding) AS x, unnest(t.ce) AS cx
       |        FROM qv q, cent2 t)
       |  GROUP BY vid, cent_id),
       |probe AS (
       |  SELECT vid AS q_id, cent_id AS cell FROM (
       |    SELECT vid, cent_id,
       |      row_number() OVER (PARTITION BY vid ORDER BY round(dot/(sqrt(qn)*sqrt(cn)), 6) DESC, cent_id) AS rn
       |    FROM probe_s) WHERE rn <= 2),
       |sums AS (
       |  SELECT q_id, c_id, cell,
       |    sum(CAST(qx AS DOUBLE)*CAST(cx AS DOUBLE)) AS dot,
       |    sum(CAST(qx AS DOUBLE)*CAST(qx AS DOUBLE)) AS qn,
       |    sum(CAST(cx AS DOUBLE)*CAST(cx AS DOUBLE)) AS cn
       |  FROM (SELECT p.q_id, a2.vid AS c_id, p.cell, unnest(q.embedding) AS qx, unnest(c.embedding) AS cx
       |        FROM probe p JOIN qv q ON q.vec_id = p.q_id
       |        JOIN a2 ON a2.cell = p.cell JOIN corpus c ON c.vec_id = a2.vid)
       |  GROUP BY q_id, c_id, cell),
       |ranked AS (
       |  SELECT q_id, c_id, cell, round(dot/(sqrt(qn)*sqrt(cn)), 6) AS score,
       |         row_number() OVER (PARTITION BY q_id ORDER BY round(dot/(sqrt(qn)*sqrt(cn)), 6) DESC, c_id) AS rank
       |  FROM sums)
       |SELECT q_id, c_id, cell, score, CAST(rank AS BIGINT) AS rank FROM ranked
       |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin

  /** Embedding column stats per label: norms via ordered double folds. */
  val embedStats = Q(
    "q_embed_stats",
    (s, d) => {
      val nrm = VecFns.norm(col("embedding"))
      Tables.embeddings(s, d)
        .select(col("label"), nrm.as("nrm"), size(col("embedding")).cast("long").as("dim"))
        .groupBy("label")
        .agg(
          count(lit(1)).as("n"),
          round(avg(col("nrm")), 6).as("avg_norm"),
          round(min(col("nrm")), 6).as("min_norm"),
          round(max(col("nrm")), 6).as("max_norm"),
          min(col("dim")).as("min_dim"),
          max(col("dim")).as("max_dim"))
        .orderBy("label")
    },
    """SELECT label, count(*) AS n,
      |round(avg(nrm), 6) AS avg_norm, round(min(nrm), 6) AS min_norm, round(max(nrm), 6) AS max_norm,
      |CAST(min(dim) AS BIGINT) AS min_dim, CAST(max(dim) AS BIGINT) AS max_dim
      |FROM (SELECT label, sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm,
      |      len(embedding) AS dim FROM embeddings)
      |GROUP BY label ORDER BY label""".stripMargin
  )

  /** Int8 scalar quantization of the embedding column with reconstruction
    * stats — the storage op a 100 TB embedding store runs (4× smaller than
    * float32 before compression). Per-vector symmetric scale (max|x|/127,
    * pre-rounded so both engines derive identical codes), codes via
    * element-wise round, and RMSE of the dequantized reconstruction.
    * Everything is per-row HOF math (one scan, no shuffle before the final
    * tiny group-by); the per-group mean goes through a DECIMAL sum of
    * pre-rounded values so it is partitioning-invariant.
    */
  val embedQuant = Q(
    "q_embed_quant",
    (s, d) => {
      val scale = round(
        array_max(transform(col("embedding"), x => abs(x.cast("double")))) / 127.0d, 9)
      val perVec = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), col("embedding"), scale.as("scale"))
        .select(col("vec_id"), col("label"), col("embedding"), col("scale"),
          transform(col("embedding"), x => round(x.cast("double") / col("scale"))).as("q"))
        .select(col("label"),
          sqrt(aggregate(
            zip_with(col("embedding"), col("q"),
              (x, qq) => pow(x.cast("double") - qq * col("scale"), 2)),
            lit(0.0d), (acc, v) => acc + v) / size(col("embedding"))).as("rmse"),
          array_max(transform(col("q"), v => abs(v))).cast("long").as("max_q"))
      perVec.groupBy("label")
        .agg(
          count(lit(1)).as("n"),
          round(sum(round(col("rmse"), 9).cast(org.apache.spark.sql.types.DecimalType(28, 9)))
            .cast("double") / count(lit(1)), 9).as("avg_rmse"),
          round(max(col("rmse")), 9).as("max_rmse"),
          max(col("max_q")).as("max_code"))
        .orderBy("label")
    },
    """WITH scaled AS (
      |  SELECT vec_id, label, embedding,
      |    round(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0, 9) AS scale
      |  FROM embeddings),
      |quant AS (
      |  SELECT vec_id, label, scale, embedding,
      |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) / scale)) AS q
      |  FROM scaled),
      |err AS (
      |  SELECT label,
      |    sqrt(list_sum(list_transform(range(1, len(embedding)+1),
      |      i -> power(CAST(embedding[i] AS DOUBLE) - q[i]*scale, 2))) / len(embedding)) AS rmse,
      |    list_max(list_transform(q, v -> abs(v))) AS max_q
      |  FROM quant)
      |SELECT label, count(*) AS n,
      |  round(CAST(sum(CAST(round(rmse, 9) AS DECIMAL(28,9))) AS DOUBLE)/count(*), 9) AS avg_rmse,
      |  round(max(rmse), 9) AS max_rmse,
      |  CAST(max(max_q) AS BIGINT) AS max_code
      |FROM err GROUP BY label ORDER BY label""".stripMargin
  )

  /** Hybrid retrieval with Reciprocal Rank Fusion (Cormack/Clarke/Büttcher):
    * fuse a lexical BM25 ranking and a dense cosine ranking of the same
    * corpus — the standard modern-retrieval recipe (sparse catches exact
    * terms, dense catches paraphrase; RRF needs no score calibration
    * because it only consumes RANKS): rrf(d) = Σ_legs 1/(60 + rank_leg(d)).
    *
    * Scale shape: each leg reduces to its top-50 FIRST — BM25 via the
    * broadcast-term-stats pipeline (TextAnalysis.bm25Scores) and cosine via
    * a 1-row broadcast query vector over one corpus scan — both ending in
    * TakeOrderedAndProject (per-partition heaps, no global sort). The rank
    * windows then run ABOVE the Limits, over ≤50 rows each (the sanctioned
    * foldable-partition window shape), and the fusion join is 50×50. Nothing
    * after the two top-k reductions grows with corpus size.
    */
  val hybridRrf = Q(
    "q_hybrid_rrf",
    (s, d) => {
      val rrfK = 60
      val lex50 = TextAnalysis.bm25Scores(
          Tables.documents(s, d).filter(col("doc_id") >= NQ),
          Seq("spark", "join", "hash"))
        .orderBy(col("bm25").desc, col("doc_id")).limit(50)
        .withColumn("lex_rank",
          row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))))
      val qv = Tables.embeddings(s, d).filter(col("vec_id") === 0)
        .select(col("embedding").as("qe"), sqrt(VecFns.sqNorm(col("embedding"))).as("qnorm"))
      val dense50 = Tables.embeddings(s, d).filter(col("vec_id") >= NQ)
        .crossJoin(broadcast(qv))
        .select(col("vec_id").as("c_id"),
          round(VecFns.dot(col("qe"), col("embedding")) /
            (col("qnorm") * sqrt(VecFns.sqNorm(col("embedding")))), 6).as("score"))
        .orderBy(col("score").desc, col("c_id")).limit(50)
        .withColumn("dense_rank",
          row_number().over(Window.orderBy(col("score").desc, col("c_id"))))
      lex50.join(dense50, col("doc_id") === col("c_id"), "full_outer")
        .select(
          coalesce(col("doc_id"), col("c_id")).as("doc_id"),
          round(
            coalesce(lit(1.0) / (lit(rrfK) + col("lex_rank")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(rrfK) + col("dense_rank")), lit(0.0)), 6).as("rrf"),
          coalesce(col("lex_rank"), lit(0)).cast("long").as("lex_rank"),
          coalesce(col("dense_rank"), lit(0)).cast("long").as("dense_rank"))
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(20)
    },
    """WITH tok AS (
      |  SELECT doc_id, unnest(split(text, ' ')) AS w FROM documents WHERE doc_id >= 5),
      |dl AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY 1),
      |stats AS (SELECT CAST(sum(len) AS DOUBLE) / count(*) AS avgdl, count(*) AS n_docs FROM dl),
      |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok
      |       WHERE w IN ('spark','join','hash') GROUP BY 1, 2),
      |df AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
      |contrib AS (
      |  SELECT tf.doc_id,
      |    CAST(round(
      |      ln((n_docs - df + 0.5E0) / (df + 0.5E0) + 1.0E0) *
      |      tf * 2.2E0 / (tf + 1.2E0 * (0.25E0 + 0.75E0 * len / avgdl)), 9) AS DECIMAL(18,9)) AS c
      |  FROM tf JOIN df USING (w) JOIN dl USING (doc_id) CROSS JOIN stats),
      |lex50 AS (
      |  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank FROM (
      |    SELECT doc_id, round(CAST(sum(c) AS DOUBLE), 6) AS bm25
      |    FROM contrib GROUP BY doc_id
      |    ORDER BY round(CAST(sum(c) AS DOUBLE), 6) DESC, doc_id LIMIT 50)),
      |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |sums AS (
      |  SELECT vec_id AS c_id,
      |    sum(CAST(qx AS DOUBLE)*CAST(cx AS DOUBLE)) AS dot,
      |    sum(CAST(qx AS DOUBLE)*CAST(qx AS DOUBLE)) AS qn,
      |    sum(CAST(cx AS DOUBLE)*CAST(cx AS DOUBLE)) AS cn
      |  FROM (SELECT vec_id, unnest(qe) AS qx, unnest(embedding) AS cx
      |        FROM embeddings, qv WHERE vec_id >= 5)
      |  GROUP BY 1),
      |dense50 AS (
      |  SELECT c_id, row_number() OVER (ORDER BY score DESC, c_id) AS dense_rank FROM (
      |    SELECT c_id, round(dot/(sqrt(qn)*sqrt(cn)), 6) AS score FROM sums
      |    ORDER BY round(dot/(sqrt(qn)*sqrt(cn)), 6) DESC, c_id LIMIT 50))
      |SELECT COALESCE(l.doc_id, de.c_id) AS doc_id,
      |  round(COALESCE(1.0/(60 + lex_rank), 0) + COALESCE(1.0/(60 + dense_rank), 0), 6) AS rrf,
      |  CAST(COALESCE(lex_rank, 0) AS BIGINT) AS lex_rank,
      |  CAST(COALESCE(dense_rank, 0) AS BIGINT) AS dense_rank
      |FROM lex50 l FULL OUTER JOIN dense50 de ON l.doc_id = de.c_id
      |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin
  )

  /** Per-label EXACT CENTROIDS of the embedding column — the class-prototype
    * aggregate behind nearest-centroid classification, cluster drift checks
    * and IVF seeding. One posexplode fans each vector to (label, dim) grain
    * map-side; the only shuffle is the partial-aggregated hash agg at that
    * grain (|labels|·|dims| rows out of a 100 TB scan). Component sums are
    * emitted as NANO-SCALED INTEGER WITNESSES plus the count: the mean is
    * fully determined by the two integers, and no rounded ratio of
    * data-dependent integers can split the engines (the q_ranking_family
    * rule; a rounded mean would also hit Spark-div vs DuckDB-floor-div
    * disagreement on negative sums).
    */
  val embedCentroid = Q(
    "q_embed_centroid",
    (s, d) =>
      Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy(col("label"), col("dim").cast("long").as("dim"))
        // component → nano-int via pure IEEE double ops (×10⁹, +0.5, floor):
        // each op is correctly rounded and engine-independent, unlike
        // float32→DECIMAL casts, whose rounding path differs across engines
        // (measured: last-2-digit drift on 98% of sums via DECIMAL(18,9))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("x").cast("double") * 1e9d + 0.5d).cast("long")).as("sum_nano"))
        .orderBy("label", "dim"),
    """SELECT label, CAST(i AS BIGINT) AS dim, count(*) AS n,
      |  CAST(sum(CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_nano
      |FROM embeddings, unnest(range(len(embedding))) AS t(i)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  )

  /** ANN RECALL REPORT — the retrieval-quality eval harness: per query,
    * recall@K of the LSH candidate search against the brute-force cosine
    * ground truth. This is how an index configuration (planes, bands, probe
    * count) gets ACCEPTED: a 100 TB corpus never runs brute force in
    * production, but it runs exactly this report on a sampled query set to
    * certify the approximate index before cutover, and re-runs it per
    * snapshot to catch recall regressions as the corpus drifts. Both legs
    * reuse the registered plans verbatim ([[cosineTopK]], [[annLshTopK]]):
    * the ground-truth leg is one corpus scan × broadcast queries, the LSH
    * leg is bucket-equi-join candidates — the join of the two top-K lists
    * is (NQ·K)-row grain, driver never sees a vector.
    */
  val annRecall = Q(
    "q_ann_recall",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val truth = cosineTopK(emb, K).select(col("q_id"), col("c_id"))
      val approx = annLshTopK(emb, K)
        .select(col("q_id").as("aq"), col("c_id").as("ac"))
      truth
        .join(approx, col("q_id") === col("aq") && col("c_id") === col("ac"), "left")
        .groupBy(col("q_id"))
        .agg(
          count(lit(1)).as("n_truth"),
          sum(when(col("aq").isNotNull, 1L).otherwise(0L)).as("n_hit"))
        .select(col("q_id"), col("n_truth"), col("n_hit"),
          round(col("n_hit").cast("double") / col("n_truth"), 6).as("recall_at_k"))
        .orderBy("q_id")
    },
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < $NQ),
       |c AS (SELECT vec_id AS c_id, embedding AS ce FROM embeddings WHERE vec_id >= $NQ),
       |tsums AS (
       |  SELECT q_id, c_id,
       |    sum(CAST(qx AS DOUBLE)*CAST(cx AS DOUBLE)) AS dot,
       |    sum(CAST(qx AS DOUBLE)*CAST(qx AS DOUBLE)) AS qn,
       |    sum(CAST(cx AS DOUBLE)*CAST(cx AS DOUBLE)) AS cn
       |  FROM (SELECT q_id, c_id, unnest(qe) AS qx, unnest(ce) AS cx FROM q, c)
       |  GROUP BY q_id, c_id),
       |truth AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q_id, c_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY round(dot/(sqrt(qn)*sqrt(cn)), 6) DESC, c_id) AS rank
       |    FROM tsums) WHERE rank <= $K),
       |planes AS (
       |  SELECT CAST(floor(i/$Dims.0) AS BIGINT) AS j, i % $Dims AS k,
       |    ((${TextFns.hash32Sql(s"'p'||CAST(CAST(floor(i/$Dims.0) AS BIGINT) AS VARCHAR)||'_'||CAST(i%$Dims AS VARCHAR)")} % 2001) - 1000)/1000.0 AS w
       |  FROM unnest(range(${Planes * Dims})) AS t(i)),
       |vx AS (SELECT vec_id, unnest(embedding) AS x, unnest(range($Dims)) AS k FROM embeddings),
       |dotj AS (SELECT vec_id, j, round(sum(CAST(x AS DOUBLE)*w), 9) AS dj
       |         FROM vx JOIN planes USING(k) GROUP BY vec_id, j),
       |buckets AS (SELECT vec_id, CAST(sum(CASE WHEN dj >= 0 THEN CAST(power(2,j) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
       |            FROM dotj GROUP BY vec_id),
       |lsums AS (
       |  SELECT q_id, c_id,
       |    sum(CAST(qx AS DOUBLE)*CAST(cx AS DOUBLE)) AS dot,
       |    sum(CAST(qx AS DOUBLE)*CAST(qx AS DOUBLE)) AS qn,
       |    sum(CAST(cx AS DOUBLE)*CAST(cx AS DOUBLE)) AS cn
       |  FROM (SELECT q.q_id, c.c_id, unnest(q.qe) AS qx, unnest(c.ce) AS cx
       |        FROM (SELECT b.vec_id AS q_id, b.bucket, e.embedding AS qe
       |              FROM buckets b JOIN embeddings e ON e.vec_id = b.vec_id WHERE b.vec_id < $NQ) q
       |        JOIN (SELECT b.vec_id AS c_id, b.bucket, e.embedding AS ce
       |              FROM buckets b JOIN embeddings e ON e.vec_id = b.vec_id WHERE b.vec_id >= $NQ) c
       |          ON q.bucket = c.bucket)
       |  GROUP BY q_id, c_id),
       |approx AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q_id, c_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY round(dot/(sqrt(qn)*sqrt(cn)), 6) DESC, c_id) AS rank
       |    FROM lsums) WHERE rank <= $K)
       |SELECT t.q_id, count(*) AS n_truth,
       |  CAST(sum(CASE WHEN a.c_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |  round(CAST(sum(CASE WHEN a.c_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |        / count(*), 6) AS recall_at_k
       |FROM truth t LEFT JOIN approx a ON t.q_id = a.q_id AND t.c_id = a.c_id
       |GROUP BY t.q_id ORDER BY t.q_id""".stripMargin
  )

  val all: Seq[Q] = Seq(annCosine, annLsh, annIvf, dedupEmbed, embedStats,
    embedQuant, hybridRrf, embedCentroid, semanticDedup_, clusterStats, annRecall)
}
