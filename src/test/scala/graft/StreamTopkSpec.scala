package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** One scored event on the wire (top-level so Spark can derive its encoder). */
final case class TopkRow(key: Long, score: Double, id: Long)

/** Streaming HEAVY HITTERS through the SAME `graft_topk`
  * TypedImperativeAggregate the batch query uses: the bounded per-key heap
  * buffer must serialize into the streaming state store, merge with each
  * micro-batch's partial heaps, and keep only k entries per key forever —
  * constant state however long the stream runs. Complete output mode, so
  * every trigger re-emits the current per-key top-k (the live leaderboard
  * deployment shape).
  */
class StreamTopkSpec extends SparkSpec {

  test("per-key top-3 heap accumulates across micro-batches with bounded state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[TopkRow]
    val q = ms.toDS()
      .groupBy(col("key"))
      .agg(expr("graft_topk(score, id, 3)").as("top"))
      .writeStream.format("memory").queryName("topk_live").outputMode("complete").start()
    try {
      // batch 1: ids 1..4 for key 7 — top-3 = 4, 3, 2
      ms.addData((1 to 4).map(i => TopkRow(7, i.toDouble, i.toLong)): _*)
      q.processAllAvailable()
      def top(): Seq[Long] = spark.table("topk_live")
        .select(explode(col("top.id")).as("id")).as[Long].collect().toSeq
      assert(top() == Seq(4L, 3L, 2L), s"batch-1 top-3 wrong: ${top()}")
      // batch 2: a new global max (id 9, score 9) and a low score (id 5,
      // score 0.5) — the heap must admit 9, evict 2, ignore 0.5
      ms.addData(TopkRow(7, 9.0, 9), TopkRow(7, 0.5, 5))
      q.processAllAvailable()
      assert(top() == Seq(9L, 4L, 3L), s"cross-batch merged top-3 wrong: ${top()}")
      // parity: the streamed state equals the batch aggregate over all rows
      val batch = ((1 to 4).map(i => TopkRow(7, i.toDouble, i.toLong))
        ++ Seq(TopkRow(7, 9.0, 9), TopkRow(7, 0.5, 5))).toDS()
        .groupBy(col("key")).agg(expr("graft_topk(score, id, 3)").as("top"))
        .select(explode(col("top.id")).as("id")).as[Long].collect().toSeq
      assert(top() == batch, "streaming state diverges from the batch aggregate")
    } finally q.stop()
  }
}
