package graft.streaming

/** The transformWithState build against the batch twin on a second
  * generated transcript (200 keys, seed 11); [[DetectorSpec]] runs both
  * builds on the 300-key one. */
class TwsDetectorSpec extends DetectorReplay {

  test("transformWithState build matches the batch twin on generated data") {
    assertMatchesBatchTwin(Seq(Tws), 200L, 11L)
  }
}
