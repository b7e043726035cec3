package graft

/** Phase job labels nest: leaving a phase restores the label that was set
  * when it was entered, never clears it.
  */
class PhaseSpec extends SparkSpec {

  test("a nested phase label restores the outer label, and the caller's on exit") {
    val sc = spark.sparkContext
    def label = sc.getLocalProperty("spark.job.description")
    val prev = label
    sc.setJobDescription("batch 7 of a streaming query")
    try {
      Phase.labelled("phase:outer") {
        assert(label == "phase:outer")
        Phase.labelled("phase:inner") {
          assert(label == "phase:inner")
        }
        assert(label == "phase:outer", "the inner phase erased the outer label")
      }
      assert(label == "batch 7 of a streaming query",
        "the phase erased the caller's own description")
      // restored on the failure path too
      intercept[IllegalStateException] {
        Phase.labelled("phase:failing") { throw new IllegalStateException("boom") }
      }
      assert(label == "batch 7 of a streaming query")
    } finally sc.setJobDescription(prev)
    // with no caller description, leaving a phase leaves none
    sc.setJobDescription(null)
    try {
      Phase.labelled("phase:only") { assert(label == "phase:only") }
      assert(label == null)
    } finally sc.setJobDescription(prev)
  }
}
