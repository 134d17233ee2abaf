package graft.sources

import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

/** The meta sidecar is rewritten on every append while readers (the
  * stream's `latestOffset`, the batch planner) read it with no lock.
  * A reader must never see a torn sidecar: no read throws, and the
  * count it sees never goes backwards. */
class MetaConcurrencySpec extends AnyFunSuite {

  test("meta reads racing 2000 one-message appends never fail or go backwards") {
    val root = graft.TempRoots.create("meta-race")
    val dir = TopicStore.topicDir(root, "t")
    val appends = 2000
    val done = new AtomicBoolean(false)
    @volatile var writerError: Throwable = null
    val writer = new Thread(() => {
      try (0 until appends).foreach { i =>
        TopicStore.append(root, "t", 0, Seq(TopicStore.Msg(
          messageId = null, key = s"k$i", valueB64 = "eA==",
          properties = Map.empty, publishTimeUs = 1700000000000000L + i,
          eventTimeUs = 1700000000000000L + i, redeliveryCount = 0,
          contentType = "text/plain")))
      } catch { case t: Throwable => writerError = t }
      finally done.set(true)
    })
    var failedReads = 0
    var firstError: Throwable = null
    var reads = 0L
    var last = 0L
    var backwards = 0
    writer.start()
    while (!done.get()) {
      try {
        val (count, _) = TopicStore.partitionMetaIn(dir, 0)
        TopicStore.partitionIndexIn(dir, 0)
        if (count < last) backwards += 1
        last = count
        reads += 1
      } catch { case t: Throwable =>
        failedReads += 1
        if (firstError == null) firstError = t
      }
    }
    writer.join()
    assert(writerError == null, String.valueOf(writerError))
    assert(failedReads == 0,
      s"$failedReads of ${reads + failedReads} reads failed, first: $firstError")
    assert(backwards == 0, s"count went backwards $backwards times")
    assert(reads > 0)
    assert(TopicStore.partitionMetaIn(dir, 0)._1 == appends.toLong)
  }
}
