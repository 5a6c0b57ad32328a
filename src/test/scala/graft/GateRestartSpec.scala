package graft

import java.util.concurrent.ConcurrentLinkedQueue

import graft.streaming.StreamingJobs
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** Checkpoint-restart contract of the three EventTimeTimeout gates
  * (funnel / gap / transition), which share one state machine,
  * StreamingJobs.ttlFoldGate: one TtlState per key, one horizon cut
  * and one two-stage dead-key timeout. StreamingSpec proves
  * drop-and-lossless-resume within ONE query run; these cases kill
  * the query AFTER a timeout transition fired and resume from the
  * checkpoint, proving the folded anchor is part of the durable state
  * (a reappearing key still rebuilds losslessly), a stage-2 removal
  * is durable (the dropped key stays dropped), and the state store
  * does not grow across the restart.
  *
  * Sink is foreachBatch (the memory sink does not support checkpoint
  * recovery); outputs accumulate across restarts in a driver-side
  * queue, which is exactly the idempotent-consumer shape the batch
  * CheckpointSpec uses. */
class GateRestartSpec extends SparkTestBase {
  import spark.implicits._

  private val S = 1000000L // 1 second in µs

  private def start(outDf: () => DataFrame, ck: String,
      rows: ConcurrentLinkedQueue[Row]): StreamingQuery =
    outDf().writeStream
      .option("checkpointLocation", ck)
      .outputMode(OutputMode.Update)
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.collect().foreach(rows.add)
      }
      .start()

  private def stateRows(q: StreamingQuery): Long =
    q.lastProgress.stateOperators.head.numRowsTotal

  test("funnelGate: stage-1 fold survives a checkpoint restart; a stage-2 removal stays dropped") {
    implicit val sqlCtx = spark.sqlContext
    val ck = tmpDir("fg-restart")
    val in = MemoryStream[(Long, String, Long)]
    val rows = new ConcurrentLinkedQueue[Row]()
    def outDf() = StreamingJobs.funnelGate(
        in.toDF().toDF("user_id", "event_type", "us"),
        ttlUs = 10L * S, delay = "0 seconds")
      .toDF("user_id", "stage")
    var q = start(() => outDf(), ck, rows)
    def step(rs: (Long, String, Long)*): Unit = {
      in.addData(rs.toSeq); q.processAllAvailable()
    }
    def u1Stages: Seq[Long] = rows.toArray(Array.empty[Row])
      .filter(_.getLong(0) == 1L).map(_.getLong(1)).toSeq
    try {
      step((1L, "view", 1000L * S), (2L, "view", 1001L * S))
      step((2L, "view", 1100L * S)) // wm 1100 s → u1 stage-1 fold fires
      assert(u1Stages.contains(1L),
        s"the stage-1 timeout must have fired before the kill: $u1Stages")
      // kill AFTER the fold, resume from the checkpoint
      q.stop()
      q = start(() => outDf(), ck, rows)
      step((1L, "click", 1105L * S))
      assert(u1Stages.max == 2L,
        s"a click after the restart must chain on the checkpointed frozen " +
          s"stage-1 anchor: $u1Stages")
      // silence u1 again: stage-1 re-fold, then stage-2 removal
      step((2L, "view", 1200L * S))
      step((2L, "view", 1250L * S))
      step((2L, "view", 1251L * S))
      assert(stateRows(q) == 1L,
        s"dead key must leave the store before the second kill, saw ${stateRows(q)}")
      // kill AFTER the removal: the drop must be durable
      q.stop()
      q = start(() => outDf(), ck, rows)
      step((2L, "view", 1260L * S))
      assert(stateRows(q) == 1L,
        "the dropped key must stay dropped across a checkpoint restart " +
          s"(no state-store growth), saw ${stateRows(q)}")
    } finally q.stop()
  }

  test("gapGate: the folded gap counters and boundary anchor survive a checkpoint restart") {
    implicit val sqlCtx = spark.sqlContext
    val ck = tmpDir("gg-restart")
    val in = MemoryStream[(Long, String, Long)]
    val rows = new ConcurrentLinkedQueue[Row]()
    def outDf() = StreamingJobs.gapGate(
        in.toDF().toDF("user_id", "event_type", "us"),
        ttlUs = 10L * S, delay = "0 seconds")
      .toDF("user_id", "event_type", "n_gaps", "min_gap_us", "max_gap_us",
        "mean_gap_us")
    var q = start(() => outDf(), ck, rows)
    def step(rs: (Long, String, Long)*): Unit = {
      in.addData(rs.toSeq); q.processAllAvailable()
    }
    def u1Last: Row = rows.toArray(Array.empty[Row])
      .filter(_.getLong(0) == 1L).last
    try {
      // u1 gaps 1 s and 2 s, then silence past the ttl
      step((1L, "view", 1000L * S), (1L, "view", 1001L * S),
        (1L, "view", 1003L * S), (2L, "view", 1001L * S))
      step((2L, "view", 1100L * S)) // u1 stage-1 fold: n=2 behind anchor 1003 s
      assert(u1Last.getLong(2) == 2L,
        s"the stage-1 fold must have fired before the kill: $u1Last")
      q.stop()
      q = start(() => outDf(), ck, rows)
      // lossless resume ACROSS the restart: the anchor→new gap (100 s)
      // joins the two folded gaps
      step((1L, "view", 1103L * S))
      val r = u1Last
      assert((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)) ==
        (3L, 1L * S, 100L * S, 103L * S / 3L),
        s"resume from the checkpointed folded anchor must be lossless: $r")
      // silence u1: re-fold then removal; kill; the drop is durable
      step((2L, "view", 1200L * S))
      step((2L, "view", 1250L * S))
      step((2L, "view", 1251L * S))
      assert(stateRows(q) == 1L,
        s"dead key must leave the store, saw ${stateRows(q)}")
      q.stop()
      q = start(() => outDf(), ck, rows)
      step((2L, "view", 1260L * S))
      assert(stateRows(q) == 1L,
        s"no state-store growth across the restart, saw ${stateRows(q)}")
    } finally q.stop()
  }

  test("transitionGate: the anchor-crossing edge still counts after a checkpoint restart") {
    implicit val sqlCtx = spark.sqlContext
    val ck = tmpDir("tg-restart")
    val in = MemoryStream[(Long, Long, Long, String)]
    val rows = new ConcurrentLinkedQueue[Row]()
    def outDf() = StreamingJobs.transitionGate(
        in.toDF().toDF("user_id", "us", "event_id", "event_type"),
        ttlUs = 10L * S, delay = "0 seconds")
      .toDF("user_id", "edges")
    var q = start(() => outDf(), ck, rows)
    def step(rs: (Long, Long, Long, String)*): Unit = {
      in.addData(rs.toSeq); q.processAllAvailable()
    }
    def u1Edges: Set[(String, String, Long)] = rows.toArray(Array.empty[Row])
      .filter(_.getLong(0) == 1L).last
      .getSeq[Row](1).map(e => (e.getString(0), e.getString(1), e.getLong(2)))
      .toSet
    try {
      step((1L, 1000L * S, 10L, "view"), (1L, 1002L * S, 11L, "click"),
        (2L, 1001L * S, 20L, "view"))
      step((2L, 1100L * S, 21L, "view")) // u1 fold behind the click anchor
      assert(u1Edges == Set(("view", "click", 1L)),
        s"the stage-1 fold must have fired before the kill: $u1Edges")
      q.stop()
      q = start(() => outDf(), ck, rows)
      step((1L, 1105L * S, 12L, "purchase"))
      assert(u1Edges == Set(("view", "click", 1L), ("click", "purchase", 1L)),
        s"the anchor-crossing edge must survive the restart: $u1Edges")
      step((2L, 1200L * S, 22L, "view"))
      step((2L, 1250L * S, 23L, "view"))
      step((2L, 1251L * S, 24L, "view"))
      assert(stateRows(q) == 1L,
        s"dead key must leave the store, saw ${stateRows(q)}")
      q.stop()
      q = start(() => outDf(), ck, rows)
      step((2L, 1260L * S, 25L, "view"))
      assert(stateRows(q) == 1L,
        s"no state-store growth across the restart, saw ${stateRows(q)}")
    } finally q.stop()
  }
}
