package perfbench

/** Self-test of the tracing arithmetic on synthetic intervals: the
  * interval union behind `driver_idle_s` and the job/stage-to-span
  * attribution. Runs at the start of every traced run and on
  * `--selftest`; throws on the first wrong answer.
  */
object SelfTest {
  private def expect[T](what: String, got: T, want: T): Unit =
    if (got != want) throw new AssertionError(s"selftest $what: got $got, want $want")

  def run(): Unit = {
    // union: overlap, nesting, touching ends, gaps, clipping, empty and reversed
    expect("union empty", Trace.unionLength(Nil, 0, 100), 0L)
    expect("union overlap", Trace.unionLength(Seq((10L, 30L), (20L, 40L)), 0, 100), 30L)
    expect("union nested", Trace.unionLength(Seq((10L, 50L), (20L, 30L)), 0, 100), 40L)
    expect("union touching", Trace.unionLength(Seq((10L, 20L), (20L, 30L)), 0, 100), 20L)
    expect("union gap", Trace.unionLength(Seq((30L, 40L), (10L, 20L)), 0, 100), 20L)
    expect("union clipped", Trace.unionLength(Seq((-10L, 10L), (90L, 150L)), 0, 100), 20L)
    expect("union outside", Trace.unionLength(Seq((200L, 300L), (5L, 5L), (9L, 3L)), 0, 100), 0L)

    val spans = Seq(Span("a", 0, 100, 100000000L), Span("b", 100, 300, 200000000L))
    // attribution: a tag naming a span wins over time; unknown tags fall back to time
    expect("tag", Trace.attribute(spans, Some("b"), 50), Some("b"))
    expect("time", Trace.attribute(spans, None, 50), Some("a"))
    expect("unknown tag", Trace.attribute(spans, Some("zz"), 150), Some("b"))
    expect("outside", Trace.attribute(spans, None, 400), None)

    val jobs = Seq(
      JobRec(1, 10, 40, Some("a")),
      JobRec(2, 30, 60, Some("a")),    // overlaps job 1: union 10..60 = 50 ms
      JobRec(3, 90, 120, Some("b")),   // tagged b, starts before b: clipped to 100..120
      JobRec(4, 200, 250, None))       // untagged, inside b by time
    val stages = Seq(
      StageRec(1, 10, Some("a"), 4, 2000000000L, 3000000L, 0L),
      StageRec(2, 35, Some("a"), 2, 1000000000L, 0L, 5000000L),
      StageRec(3, 210, None, 8, 500000000L, 1000000L, 0L))
    val c = Trace.countersBySpan(spans, jobs, stages)
    expect("a", c("a"), SpanCounters(0.1, 3.0, 2, 6, 3.0, 5.0, 0.05))
    expect("b", c("b"), SpanCounters(0.2, 0.5, 2, 8, 1.0, 0.0, 0.13))
  }
}
