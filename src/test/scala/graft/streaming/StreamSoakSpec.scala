package graft.streaming

import graft.SparkSpec

/** VERDICT r9 item 5 (spec-level): replay the sf0.001 events table as
  * 100 real micro-batches through each stateful operator and assert
  * the state-store row count PLATEAUS (bounded by the watermark
  * horizon, not stream length). The sf1-volume committed run is
  * STREAM_SOAK_sf1.json via [[StreamSoak.main]]; this keeps the gate
  * in the suite.
  */
class StreamSoakSpec extends SparkSpec {

  test("100-batch replay: state plateaus for window agg, dedup, sessions") {
    val curves = StreamSoak.runAll(spark, SparkSpec.Sf0001, nBatches = 100)
    curves.foreach { c =>
      info(s"${c.op}: batches=${c.batches.size} total_in=${c.totalInput} " +
        s"final_state=${c.finalState} q2max=${c.q2MaxState} " +
        s"q4max=${c.q4MaxState}")
      // every batch's progress event is in the curve, none lost to the
      // async listener bus after awaitTermination: 100 data batches
      // (ids 0..99) plus the no-data batch 100 that the final
      // watermark advance runs to evict state
      assert(c.batches.map(_.batchId) == (0L to 100L),
        s"${c.op}: expected batch ids 0..100, got " +
          c.batches.map(_.batchId).mkString(","))
      assert(c.totalInput >= 1000L, s"${c.op}: the whole table must flow")
      assert(c.plateaued,
        s"${c.op}: state grew with stream length — " +
          s"q2max=${c.q2MaxState} q4max=${c.q4MaxState} " +
          s"final=${c.finalState} of ${c.totalInput} fed")
    }
  }
}
