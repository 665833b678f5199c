package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.streaming.Freshness
import graft.streaming.Freshness.SourceObservation

/** Streaming smoke driver: rate source → synthetic freshness
  * observations → stateful change detection → parquet append sink with
  * checkpointing — the real end-to-end Structured Streaming path
  * (the specs use MemoryStream/memory sink; this exercises file sink +
  * checkpoint recovery surfaces). */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Session.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val out = java.nio.file.Files.createTempDirectory("stream_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("stream_ckpt").toString

    // rate source → one observation per tick; the "source modification
    // time" advances every 5 ticks, so changes are detected at that cadence
    val obs = spark.readStream.format("rate").option("rowsPerSecond", 50).load()
      .select(
        lit("w1").as("watchId"),
        concat(lit("r"), (col("value") % 3).cast("string")).as("resourceKey"),
        col("timestamp").as("observedAt"),
        to_timestamp(from_unixtime(lit(1700000000L) + (col("value") / 5) * 3600))
          .as("sourceModifiedAt"),
        lit("datetime").as("precision"))
      .as[SourceObservation]

    val q = Freshness.changeDetection(obs)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append")
      .start()

    q.awaitTermination(8000)
    q.stop()

    val result = spark.read.parquet(out)
    val n = result.count()
    val changed = result.where(col("changed")).count()
    println(s"[stream-demo] observations=$n changed=$changed")
    assert(n > 0, "stream produced no rows")
    spark.stop()
  }
}
