package graft

import java.nio.file.Files
import org.scalacheck.{Gen, Prop, Properties, Test}
import graft.etl.{Incremental, Sinks}

/** SURVEY §5.3 — property: for any event set and any split point,
  * incremental processing (run each half in turn, watermark persisted
  * between) produces exactly the same sink contents as one full run.
  */
object IncrementalProps extends Properties("Incremental") {

  // Spark jobs per case are slow; 20 cases is plenty for a law this
  // structural.
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(20).withWorkers(1)

  private lazy val spark = SparkTestSession.spark

  private val keys = Seq("user_id", "event_type", "ts_us")

  private val genEvents: Gen[List[(Long, String, Long)]] =
    Gen.nonEmptyListOf(for {
      u <- Gen.choose(0L, 3L)
      t <- Gen.oneOf("click", "view", "buy")
      ts <- Gen.choose(1L, 50L)
    } yield (u, t, ts))

  property("incremental == full for any split") =
    Prop.forAll(genEvents, Gen.choose(0L, 50L)) { (evs, split) =>
      import spark.implicits._
      val df = evs.toDF("user_id", "event_type", "ts_us")
      val base = Files.createTempDirectory("graft-prop").toString

      Incremental.runOnceTo(spark, df, "ts_us", keys, s"$base/fw.txt", 0L,
        b => Sinks.upsertAppend(spark, b, s"$base/full", keys))

      val firstHalf = df.filter($"ts_us" <= split)
      Incremental.runOnceTo(spark, firstHalf, "ts_us", keys, s"$base/iw.txt", 0L,
        b => Sinks.upsertAppend(spark, b, s"$base/inc", keys))
      Incremental.runOnceTo(spark, df, "ts_us", keys, s"$base/iw.txt", 0L,
        b => Sinks.upsertAppend(spark, b, s"$base/inc", keys))

      def read(p: String): Set[Seq[Any]] = {
        val f = new java.io.File(p)
        if (!f.exists()) Set.empty
        else spark.read.parquet(p).collect().map(_.toSeq).toSet
      }
      read(s"$base/full") == read(s"$base/inc")
    }
}
