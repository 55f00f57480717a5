package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.{Dataset, Row}

/** [[WaveHarness.drain]]'s one session-level policy: the drain runs
  * with `spark.sql.shuffle.partitions` = 4 and hands the caller's
  * value back afterwards, whether the sink succeeds or throws. */
class WaveHarnessSpec extends SparkSpec {

  test("drain pins shuffle partitions to 4 for the sink and restores " +
    "the caller's value, also when the sink throws") {
    val sp = spark
    import sp.implicits._
    val key = "spark.sql.shuffle.partitions"
    val root = tmpDir("wave-drain-pin")
    val wave = Seq(1L, 2L).toDF("id")
    WaveHarness.writeWave(wave, s"$root/src", 0)
    def drain(ckpt: String)(sink: Dataset[Row] => Unit): Unit =
      WaveHarness.drain(spark,
        WaveHarness.waveStream(spark, s"$root/src", wave.schema).writeStream
          .foreachBatch((b: Dataset[Row], _: Long) => sink(b)),
        s"$root/$ckpt")

    val prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    try {
      var seen = Seq.empty[String]
      drain("ok")(b => seen :+= b.sparkSession.conf.get(key))
      assert(seen === Seq("4"), "the sink did not run under the pin")
      assert(spark.conf.get(key) === "7")

      intercept[Exception](
        drain("boom")(_ => throw new IllegalStateException("sink failed")))
      assert(spark.conf.get(key) === "7",
        "a failed drain left the pin on the caller's session")
    } finally spark.conf.set(key, prev)
  }
}
