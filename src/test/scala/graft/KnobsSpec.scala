package graft

import graft.ext.{Hits, Sketches}
import graft.streaming.Streaming

/** Tuning knobs fall back to their defaults on a value that does not
  * parse, instead of failing the query that reads them; good values are
  * still honored. */
class KnobsSpec extends SparkSpec {

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("HITS SHJ round gate: bad conf or env value falls back to 10^8") {
    val key = "spark.graft.graph.shjRoundRowGate"
    withConf(key, "1e8x")(assert(Hits.shjRoundRowGate(spark) == 100000000L))
    withConf(key, "7")(assert(Hits.shjRoundRowGate(spark) == 7L))
    assert(Hits.shjRoundRowGate(spark, Map("SPARK_GRAFT_GRAPH_GATE" -> "lots"))
      == 100000000L)
    assert(Hits.shjRoundRowGate(spark, Map("SPARK_GRAFT_GRAPH_GATE" -> " 5 ")) == 5L)
  }

  test("Bloom fact-row gate: bad conf or env value falls back to 10^8") {
    val key = "spark.graft.bloom.factRowGate"
    withConf(key, "")(assert(Sketches.bloomFactRowGate(spark) == 100000000L))
    withConf(key, "1")(assert(Sketches.bloomFactRowGate(spark) == 1L))
    assert(Sketches.bloomFactRowGate(spark, Map("SPARK_GRAFT_BLOOM_GATE" -> "10^8"))
      == 100000000L)
    assert(Sketches.bloomFactRowGate(spark, Map("SPARK_GRAFT_BLOOM_GATE" -> "3")) == 3L)
  }

  test("stream stage chunks: non-numeric or non-positive value falls back to 1") {
    val key = "SPARK_GRAFT_STREAM_STAGE_CHUNKS"
    assert(Streaming.stageChunks(Map.empty) == 1)
    assert(Streaming.stageChunks(Map(key -> "four")) == 1)
    assert(Streaming.stageChunks(Map(key -> "0")) == 1)
    assert(Streaming.stageChunks(Map(key -> "-2")) == 1)
    assert(Streaming.stageChunks(Map(key -> "4")) == 4)
  }
}
