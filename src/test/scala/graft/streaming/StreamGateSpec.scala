package graft.streaming

import java.sql.Timestamp
import java.util.concurrent.TimeoutException

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, to_json}
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.sources.TopicStore

/** The shared stream loop: a landed AvailableNow run equals a batch
  * read of the same topic, a failing body reaches the caller with no
  * query left running, and the bounded wait stops a hung query and
  * names its checkpoint. */
class StreamGateSpec extends SparkSpec {

  private def publish(root: String, n: Int): Unit = {
    import spark.implicits._
    TopicStore.publish(spark,
      (0 until n).map(i =>
          (s"k${i % 17}", s"v$i", new Timestamp(1700000000000L + i * 1000L)))
        .toDF("key", "value_str", "publish_time"),
      root, "t", 3)
  }

  test("a landed AvailableNow run equals a batch read of the topic") {
    val root = tmpDir("gate-rt")
    val ckpt = tmpDir("gate-rt-ckpt")
    val out = root + "/landed"
    publish(root, 300)
    // a cap below the topic size: the run takes several micro-batches
    val progress = StreamGate.land(
      StreamGate.stream(spark, root, "t", 64L).load(), ckpt, out)
    assert(progress.count(_.numInputRows > 0) > 1,
      progress.map(_.numInputRows).mkString(","))
    // set operations refuse MAP columns: compare the properties as JSON
    def comparable(df: DataFrame) =
      df.withColumn("properties", to_json(col("properties")))
    val landed = comparable(BatchLanding.read(spark, out))
    val batch = comparable(StreamGate.batch(spark, root, "t", 1000L).load())
    assert(landed.count() == 300L)
    assert(landed.exceptAll(batch).isEmpty)
    assert(batch.exceptAll(landed).isEmpty)
    assert(spark.streams.active.isEmpty)
  }

  test("a throwing foreachBatch body reaches the caller and stops the query") {
    val root = tmpDir("gate-err")
    val ckpt = tmpDir("gate-err-ckpt")
    publish(root, 20)
    val e = intercept[Exception] {
      StreamGate.run(StreamGate.stream(spark, root, "t", 1000L).load(), ckpt) {
        (_, _) => throw new IllegalStateException("body failed on purpose")
      }
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(chain.exists(_.getMessage.contains("body failed on purpose")), e)
    assert(spark.streams.active.isEmpty)
  }

  test("the bounded wait stops a hung query and names its checkpoint") {
    val root = tmpDir("gate-hang")
    val ckpt = tmpDir("gate-hang-ckpt")
    publish(root, 20)
    val q = StreamGate.stream(spark, root, "t", 1000L).load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (_: DataFrame, _: Long) => Thread.sleep(120000L) }
      .trigger(Trigger.AvailableNow())
      .start()
    val e = intercept[TimeoutException](StreamGate.awaitWithin(q, ckpt, 500L))
    assert(e.getMessage.contains(ckpt), e.getMessage)
    assert(!q.isActive)
    assert(spark.streams.active.isEmpty)
  }

  test("withConf restores set keys and unsets absent ones, even on failure") {
    val key = "spark.sql.shuffle.partitions"
    val absent = "spark.graft.gate.spec.absent"
    val before = spark.conf.get(key)
    intercept[IllegalStateException] {
      StreamGate.withConf(spark, key -> "3", absent -> "x") {
        assert(spark.conf.get(key) == "3")
        assert(spark.conf.get(absent) == "x")
        throw new IllegalStateException("inside")
      }
    }
    assert(spark.conf.get(key) == before)
    assert(spark.conf.getOption(absent).isEmpty)
  }
}
