package graft.streaming

import graft.{SparkEntry, TestSpark}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** The harness-stream lifecycle ([[Streams.runStreamToTable]]): a stream
  * is stopped and its checkpoint reclaimed whatever the feed does, and
  * its confs reach the stream only — the session's SQLConf is the same
  * before and after every streaming contract query.
  */
class HarnessLifecycleSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  /** Keys whose session value differs from `before` (set, unset or
    * changed).
    */
  private def changedConfs(before: Map[String, String]): Seq[String] = {
    val after = spark.conf.getAll
    (before.keySet ++ after.keySet).filter(k => before.get(k) != after.get(k))
      .toSeq.sorted
  }

  test("a failing feed: its exception is rethrown, the query is stopped, " +
      "the checkpoint is deleted and the session confs are unchanged") {
    import spark.implicits._
    val before = spark.conf.getAll
    val boom = new IllegalStateException("feed failed")
    val in = MemoryStream[Int](spark)
    var checkpoint: java.io.File = null
    val thrown = intercept[IllegalStateException] {
      Streams.runStreamToTable(spark, "lifecycle", Streams.TwsConfs)(
        in.toDS().writeStream.format("memory")
          .outputMode(OutputMode.Append)) { q =>
        checkpoint = new java.io.File(new java.net.URI(q
          .asInstanceOf[StreamingQueryWrapper].streamingQuery.resolvedCheckpointRoot))
        in.addData(1, 2, 3)
        q.processAllAvailable()
        assert(checkpoint.isDirectory)
        throw boom
      }
    }
    assert(thrown eq boom)
    assert(spark.streams.active.isEmpty)
    assert(!checkpoint.exists(), s"$checkpoint survived the query")
    assert(changedConfs(before).isEmpty)
  }

  test("every streaming contract query leaves the session confs and " +
      "active streams as it found them") {
    // the catalog registration is a session-level install (idempotent),
    // not a per-query override: make it before the first snapshot
    graft.sources.GraftCatalog.install(spark)
    val names = SparkEntry.queries.keys.filter(_.startsWith("streaming_"))
      .toSeq.sorted
    assert(names.contains("streaming_asof_enrich"))
    names.foreach { name =>
      val confs = spark.conf.getAll
      val active = spark.streams.active.map(_.id).toSet
      SparkEntry.queries(name)(spark, TestSpark.sf).count()
      val changed = changedConfs(confs)
      assert(changed.isEmpty, s"$name changed the session confs $changed")
      assert(spark.streams.active.map(_.id).toSet == active,
        s"$name left a stream running")
    }
  }
}
