package graft.streaming

import graft.SparkTestBase

/** Pins the StreamDemo end-to-end run: file source → streaming operators
  * → foreachBatch → durable engine relations → cold restore → batch
  * parity. The demo FAILS (Left) if any parity breaks, so this spec is
  * the parity assertion. */
class StreamDemoSpec extends SparkTestBase {

  test("stream demo: sessionize + interval join + dedup reach batch parity through the store") {
    val work = tempDir("graft-streamdemo-spec").toString
    graft.StreamDemo.run(spark, "/root/testdata/sf0.001", work) match {
      case Left(e) => fail(e)
      case Right(s) =>
        assert(s.sessions > 0 && s.attributed > 0 && s.distinctProps > 0, s.toString)
    }
  }
}
