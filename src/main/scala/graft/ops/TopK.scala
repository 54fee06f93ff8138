package graft.ops

import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Exact top-k per group as a BOUNDED-STATE aggregate — the reserved
  * custom-Aggregator slot from SURVEY.md §4.3.
  *
  * The standard formulation (`row_number() OVER (PARTITION BY g ORDER
  * BY score DESC) <= k`, used by the oracle-checked queries) is
  * correct but shuffles and sorts EVERY row: at 100 TB the exchange
  * carries the whole table and each group pays a full sort for rows
  * that can never rank. This Aggregator keeps O(k) state per group,
  * so map-side partial aggregation collapses each task to ≤ k rows
  * per group before the exchange — the shuffle carries ≤ |groups|·k
  * rows no matter how large the input (the same contrast as
  * TakeOrderedAndProject vs a global sort, applied per group).
  *
  * Ordering contract matches the window form exactly: score DESC, id
  * ASC tie-break — deterministic across engines and retries.
  */
object TopK {

  /** (score, id) ordered by score DESC then id ASC. */
  private def better(a: (Double, Long), b: (Double, Long)): Boolean =
    a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)

  /** Insertion-sorted bounded buffer: amortized O(log k) lookups would
    * need a heap, but k is small (5-100) and the buffer lives inside
    * Tungsten rows between updates — a flat sorted array is both
    * simpler and faster to serialize.
    */
  private def insert(buf: Seq[(Double, Long)], x: (Double, Long), k: Int): Seq[(Double, Long)] =
    if (buf.size >= k && better(buf.last, x)) buf
    else {
      val (front, back) = buf.span(better(_, x))
      (front :+ x) ++ back.take(k - front.size - 1)
    }

  final class TopKAggregator(k: Int)
      extends Aggregator[(Double, Long), Seq[(Double, Long)], Seq[(Double, Long)]] {
    require(k > 0, "top-k needs k > 0")
    override def zero: Seq[(Double, Long)] = Vector.empty
    override def reduce(b: Seq[(Double, Long)], a: (Double, Long)): Seq[(Double, Long)] =
      insert(b, a, k)
    override def merge(b1: Seq[(Double, Long)], b2: Seq[(Double, Long)]): Seq[(Double, Long)] =
      b2.foldLeft(b1)(insert(_, _, k))
    override def finish(r: Seq[(Double, Long)]): Seq[(Double, Long)] = r
    override def bufferEncoder: Encoder[Seq[(Double, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()
    override def outputEncoder: Encoder[Seq[(Double, Long)]] = bufferEncoder
  }

  /** DataFrame-level exact top-k per group with built-in aggregates:
    * rows become (score, id) structs, collect_list gathers each
    * group's structs, and sort+slice applies ONLY AFTER the final
    * merge — the partial buffers are NOT bounded; they grow with the
    * partition's rows for a group. The hard O(k)-state form is the
    * typed [[TopKAggregator]] (whose reduce/merge cap every partial at
    * k — that is the 100 TB shape); this expression form is the
    * DataFrame-friendly middle when groups are modest: codegen-friendly
    * expressions, one shuffle of per-group arrays, exact results.
    *
    * Built-ins used: struct ordering on (score DESC, id ASC) is
    * expressed by packing (-score, id) so the natural ASC struct sort
    * gives the right order without a custom ordering.
    */
  def topKPerGroup(df: DataFrame, groupCol: String, scoreCol: String,
                   idCol: String, k: Int): DataFrame =
    df.groupBy(col(groupCol))
      .agg(slice(array_sort(collect_list(
        struct((-col(scoreCol)).as("ns"), col(idCol).cast("long").as("id")))), 1, k).as("top"))
      .select(col(groupCol), posexplode(col("top")).as(Seq("i", "t")))
      .select(
        col(groupCol),
        (col("i") + 1).cast("long").as("rnk"),
        (-col("t.ns")).as(scoreCol),
        col("t.id").as(idCol))

  /** Typed top-k per group on the bounded-state [[TopKAggregator]]:
    * the Dataset-world form whose partial state is HARD-capped at k
    * entries per group per task — the one to reach for when groups are
    * huge and skewed. Input: (group, score, id) triples.
    */
  def topKPerGroupTyped(df: DataFrame, groupCol: String, scoreCol: String,
                        idCol: String, k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val agg = new TopKAggregator(k).toColumn
    df.select(col(groupCol).cast("string"), col(scoreCol).cast("double"),
        col(idCol).cast("long"))
      .as[(String, Double, Long)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(agg.name("top"))
      .flatMap { case (g, top) =>
        top.iterator.zipWithIndex.map { case ((s, id), i) => (g, (i + 1).toLong, s, id) }
      }
      .toDF(groupCol, "rnk", scoreCol, idCol)
  }
}
