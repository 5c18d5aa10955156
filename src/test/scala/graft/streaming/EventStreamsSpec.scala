package graft.streaming

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.SparkTestBase
import graft.streaming.EventStreams.Event

class EventStreamsSpec extends AnyFunSuite with SparkTestBase {

  private def ts(minutes: Long) = new Timestamp(1700000000000L + minutes * 60000)

  test("stateful sessionization closes sessions across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.sessionize(input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions").outputMode(OutputMode.Update()).start()
    try {
      input.addData(Event(1, ts(0), 7, "click", 0), Event(2, ts(5), 7, "click", 0))
      q.processAllAvailable()
      input.addData(Event(3, ts(120), 7, "click", 0)) // 115-min gap -> closes session 1
      q.processAllAvailable()
      val last = spark.table("sessions").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).last
      assert(last == ((7L, 1L, 1L))) // one closed session, one event in the open one
    } finally q.stop()
  }

  test("streaming funnel: ordered steps within the window, across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.funnel(input.toDS(), Seq("click", "view", "purchase"), windowMinutes = 60)
      .writeStream.format("memory").queryName("funnel").outputMode(OutputMode.Append()).start()
    try {
      // user 7 completes in order; user 8 has purchase BEFORE view (no hit)
      input.addData(
        Event(1, ts(0), 7, "click", 0), Event(2, ts(10), 7, "view", 0),
        Event(3, ts(0), 8, "click", 0), Event(4, ts(5), 8, "purchase", 0))
      q.processAllAvailable()
      input.addData(Event(5, ts(20), 7, "purchase", 0), Event(6, ts(20), 8, "view", 0))
      q.processAllAvailable()
      val hits = spark.table("funnel").collect().map(r => r.getLong(0)).toSeq
      assert(hits == Seq(7L)) // only user 7 completed click->view->purchase
      // user 8 can still complete a FRESH funnel later, in order
      input.addData(Event(7, ts(30), 8, "click", 0), Event(8, ts(40), 8, "view", 0),
        Event(9, ts(50), 8, "purchase", 0))
      q.processAllAvailable()
      assert(spark.table("funnel").collect().map(_.getLong(0)).sorted.toSeq == Seq(7L, 8L))
      // out-of-window: steps 70 minutes apart restart instead of completing
      input.addData(Event(10, ts(100), 9, "click", 0))
      q.processAllAvailable()
      input.addData(Event(11, ts(175), 9, "view", 0), Event(12, ts(180), 9, "purchase", 0))
      q.processAllAvailable()
      assert(!spark.table("funnel").collect().map(_.getLong(0)).contains(9L))
    } finally q.stop()
  }

  test("streaming dedup drops repeated keys") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.dedupStream(input.toDF(), Seq("event_id"))
      .writeStream.format("memory").queryName("dedup").outputMode(OutputMode.Append()).start()
    try {
      input.addData(Event(1, ts(0), 1, "click", 1.0), Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(1), 1, "view", 2.0))
      q.processAllAvailable()
      assert(spark.table("dedup").count() == 2)
    } finally q.stop()
  }
}
