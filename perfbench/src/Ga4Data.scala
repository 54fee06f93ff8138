package perfbench

import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** One GA4 export row: nested `event_params` as (key, string_value)
  * pairs, landed in daily shard `shard`.
  */
final case class Ga4Event(user: String, ts: Long, name: String,
                          params: Vector[(String, String)], shard: Int) {
  def key: (String, Long, String) = (user, ts, name)
  /** The reference's param loop keeps overwriting, so the last match wins. */
  def param(k: String): String =
    params.reverseIterator.find(_._1 == k).map(_._2).orNull
}

object Ga4 {
  val Names: Vector[String] = Vector("page_view", "session_start", "scroll", "click",
    "view_item", "add_to_cart", "begin_checkout", "purchase", "user_engagement",
    "first_visit", "video_start", "file_download")
  /** The tracked-event IN-list of the incremental ETL. */
  val Tracked: Seq[String] = Names.take(8)
  val DayUs: Long = 86400L * 1000000L
  /** 2024-01-01T00:00:00Z in epoch micros. */
  val Day0Us: Long = 1704067200000000L
  val Keys: Seq[String] = Seq("user_id", "event_timestamp", "event_name")

  def suffix(day: Int): String =
    java.time.LocalDate.of(2024, 1, 1).plusDays(day.toLong)
      .format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE)

  private val paramType = StructType(Seq(
    StructField("key", StringType),
    StructField("value", StructType(Seq(
      StructField("string_value", StringType),
      StructField("int_value", LongType))))))

  /** The shard schema, without the `suffix` partition column. */
  val schema: StructType = StructType(Seq(
    StructField("user_id", StringType),
    StructField("event_timestamp", LongType),
    StructField("event_name", StringType),
    StructField("event_params", ArrayType(paramType))))

  def row(e: Ga4Event): Row =
    Row(e.user, e.ts, e.name, e.params.map { case (k, v) => Row(k, Row(v, null)) })

  def rowWithSuffix(e: Ga4Event): Row =
    Row(e.user, e.ts, e.name, e.params.map { case (k, v) => Row(k, Row(v, null)) },
      suffix(e.shard))

  /** The reference's row filters: a non-empty user and, when given, a
    * tracked event name.
    */
  def passes(e: Ga4Event, vocabulary: Set[String]): Boolean =
    e.user != null && e.user.nonEmpty && (vocabulary.isEmpty || vocabulary(e.name))

  /** Order-free checksum of extracted rows: the sum of a 64-bit hash of
    * each row's fields.
    */
  def rowHash(user: String, ts: Long, name: String, eventId: String, detail: String): Long = {
    val s = s"$user|$ts|$name|$eventId|$detail"
    val a = scala.util.hashing.MurmurHash3.stringHash(s, 0x5eed)
    val b = scala.util.hashing.MurmurHash3.stringHash(s, 0x0ddba11)
    (a.toLong << 32) ^ (b.toLong & 0xffffffffL)
  }

  def rowHash(e: Ga4Event): Long = rowHash(e.user, e.ts, e.name, e.param("id"), e.param("name"))
}

/** Seeded generator of daily GA4 shards. Each shard holds fresh events of
  * its day plus late rows of the previous day (4%), exact in-shard
  * re-deliveries (5%), re-deliveries of the previous shard (2%), events
  * without a user (3%) and untracked event names. Natural keys of distinct
  * events never collide, so first-write dedup has one answer.
  */
final class Ga4Generator(seed: Long, val perShard: Int) {
  private val rnd = new SplittableRandom(seed)
  private val keys = mutable.HashSet[(String, Long, String)]()
  val shards = mutable.ArrayBuffer[Vector[Ga4Event]]()
  private var serial = 0L

  private def fresh(day: Int, shard: Int): Ga4Event = {
    val r = rnd.nextDouble()
    val user = if (r < 0.015) null else if (r < 0.03) "" else f"u${rnd.nextInt(4000)}%05d"
    val name = Ga4.Names(rnd.nextInt(Ga4.Names.size))
    var ts = Ga4.Day0Us + day * Ga4.DayUs + rnd.nextLong(Ga4.DayUs)
    while (!keys.add((user, ts, name))) ts = Ga4.Day0Us + day * Ga4.DayUs + rnd.nextLong(Ga4.DayUs)
    serial += 1
    val base = Vector("id" -> f"e$serial%08x", "page" -> s"/p/${rnd.nextInt(500)}")
    val withName = if (rnd.nextDouble() < 0.05) base else base :+ ("name" -> s"d${rnd.nextInt(900)}")
    val params = if (rnd.nextDouble() < 0.10) withName :+ ("id" -> f"r$serial%08x") else withName
    Ga4Event(user, ts, name, params, shard)
  }

  /** Generate the next daily shard. */
  def next(): Vector[Ga4Event] = {
    val d = shards.size
    val buf = mutable.ArrayBuffer[Ga4Event]()
    for (_ <- 0 until perShard)
      buf += fresh(if (d > 0 && rnd.nextDouble() < 0.04) d - 1 else d, d)
    val own = buf.toVector
    for (_ <- 0 until perShard * 5 / 100) buf += own(rnd.nextInt(own.size))
    if (d > 0) {
      val prev = shards(d - 1)
      for (_ <- 0 until perShard * 2 / 100) buf += prev(rnd.nextInt(prev.size)).copy(shard = d)
    }
    // deterministic Fisher-Yates: arrival order inside the shard is mixed
    var i = buf.size - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = buf(i); buf(i) = buf(j); buf(j) = t
      i -= 1
    }
    val shard = buf.toVector
    shards += shard
    shard
  }
}

/** Plain-Scala model of the watermark ETL over the generator's records:
  * strict `>` watermark, the reference's filters, first-write dedup on the
  * natural key and conflict-skip insert.
  */
final class EtlOracle(initialWatermark: Long) {
  var watermark: Long = initialWatermark
  val sink = mutable.HashMap[(String, Long, String), Ga4Event]()
  private val vocabulary = Ga4.Tracked.toSet

  /** (rows fetched, rows inserted, new watermark) of one run over every
    * landed shard.
    */
  def run(landed: Iterable[Vector[Ga4Event]]): (Long, Long, Long) = {
    val batch = mutable.HashMap[(String, Long, String), Ga4Event]()
    for (shard <- landed; e <- shard)
      if (e.ts > watermark && Ga4.passes(e, vocabulary)) batch.getOrElseUpdate(e.key, e)
    var inserted = 0L
    batch.foreach { case (k, e) => if (!sink.contains(k)) { sink(k) = e; inserted += 1 } }
    if (batch.nonEmpty) watermark = math.max(watermark, batch.valuesIterator.map(_.ts).max)
    (batch.size.toLong, inserted, watermark)
  }

  def checksum: Long = sink.valuesIterator.map(Ga4.rowHash).sum
}
