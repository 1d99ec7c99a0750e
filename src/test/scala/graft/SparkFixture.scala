package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test run (JVM-wide —
  * Spark session startup is ~5 s, per-suite sessions would dominate
  * test time). Never stopped; the forked test JVM exits. */
object SparkFixture {
  lazy val session: SparkSession = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_test_wh").toFile
    // local[4, 2]: maxFailures=2 enables ONE task retry, so
    // FaultRecoverySpec can inject a task failure and pin that
    // queries recover (plain local[N] fails the job on the first
    // task failure). Deterministic failures still fail — they just
    // retry once first. The retry budget is suite-global, which could
    // MASK a genuinely flaky operator (a task that fails once and
    // passes on retry would turn a red test green) — so the listener
    // below records every task failure that is NOT FaultRecoverySpec's
    // injected marker and prints it LOUDLY to stderr: a flake cannot
    // pass invisibly, it leaves a `[SparkFixture] UNEXPECTED task
    // failure` line in the test log. (No global emptiness assertion —
    // some suites fail tasks intentionally, e.g. TablesFaultSpec's
    // corrupt-parquet reads.)
    // The shipped conf (GraftSession), so the plans tests pin are the
    // plans Bench times and Verify checks.
    val s = GraftSession.start(GraftSession.builder(4, "local[4, 2]")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse"), "ERROR")
    s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        t.reason match {
          case r: org.apache.spark.TaskFailedReason =>
            val msg = r.toErrorString
            if (!msg.contains(InjectedFaultMarker)) {
              unexpectedTaskFailures.add(msg.linesIterator.take(3).mkString(" | "))
              System.err.println(
                s"[SparkFixture] UNEXPECTED task failure (retried silently by local[4,2]): " +
                  msg.linesIterator.take(3).mkString(" | "))
            }
          case _ =>
        }
    })
    // End-of-run flake report (round-14 ADVICE): per-event stderr
    // lines scroll away inside a 6-minute test log, so a flaky
    // operator that failed once and passed on retry could still turn
    // CI green unless someone reads the log. This hook runs when the
    // forked test JVM exits: it filters the recorded failures against
    // the KNOWN intentional-failure fixtures (TablesFaultSpec's
    // corrupt-parquet reads are the only suite that fails tasks
    // without the marker) and, if unexplained entries remain, prints
    // an unmissable banner AND writes target/flake-report.txt so the
    // round's artifacts carry the evidence even after the terminal
    // scrolls. (A shutdown hook cannot flip the sbt exit code, but a
    // banner + on-disk artifact is loud; the per-event lines remain
    // for triage.)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import scala.jdk.CollectionConverters._
      val intentional = Seq(
        "graft_fault",          // TablesFaultSpec's corrupt-table temp dir
        "not a parquet",        // its corrupt-events read error text
        "could not read footer",
        // Deliberate error-path suites that fail TASKS (not just
        // queries): the Pairs 2^31 pair-count guard (DedupCapSpec/
        // PairsSpec trip it on purpose) and the reference dialect's
        // ANSI cast errors (ReferenceAbilitySpec feeds 'Gascoigne'
        // to numeric casts). Both are value-deterministic.
        "over the 2^31-1 array bound",
        "cast_invalid_input")
      val all = unexpectedTaskFailures.asScala.toList
        .filterNot(m => intentional.exists(m.toLowerCase.contains))
      // The awaitResult broadcast/subquery wrapper carries NO cause
      // text in toErrorString, so it cannot be attributed: the
      // error-path suites raise it deterministically, but a real
      // broadcast flake would look identical. Neither suppress nor
      // cry wolf — report the count on its own soft line, keep the
      // loud banner for attributable failures.
      val (wrappers, unexplained) =
        all.partition(_.toLowerCase.contains("exception thrown in awaitresult"))
      val report = new StringBuilder
      if (unexplained.nonEmpty) report.append(
        ("=" * 72) + "\n[SparkFixture] FLAKE REPORT: " +
          s"${unexplained.size} UNEXPLAINED task failure(s) were retried " +
          "silently by local[4,2] during this run — a test that passed " +
          "may be masking a flaky operator:\n" +
          unexplained.map("  - " + _).mkString("\n") + "\n" + ("=" * 72))
      if (wrappers.nonEmpty) report.append(
        s"\n[SparkFixture] note: ${wrappers.size} causeless awaitResult " +
          "wrapper failure(s) (broadcast/subquery). Known source: " +
          "TablesFaultSpec's corrupt-parquet fixture raises exactly these " +
          "(6 in a full run, bisected round 15) — the wrapper strips the " +
          "cause so they can't be content-filtered. A count above the " +
          "known 6 means a NEW unattributed broadcast failure: check the " +
          "per-event stderr lines.")
      if (report.nonEmpty) {
        System.err.println(report.toString)
        try java.nio.file.Files.writeString(
          java.nio.file.Paths.get("target/flake-report.txt"), report.toString)
        catch { case _: Throwable => () }
      }
    }, "graft-flake-report"))
    s
  }

  /** Smallest driver-provided dataset (TESTDATA.md). */
  val Sf0001 = "/root/testdata/sf0.001"

  /** Message marker every deliberate FaultRecoverySpec injection
    * carries; anything else failing a task is a real flake. */
  val InjectedFaultMarker = "injected task failure"

  /** Task failures NOT carrying [[InjectedFaultMarker]], recorded for
    * the whole forked test run. Tests that intentionally fail tasks
    * another way (corrupt-parquet reads in TablesFaultSpec, the
    * engine's own error-path tests) are expected entries — consumers
    * filter by content rather than asserting global emptiness. */
  val unexpectedTaskFailures =
    java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
}
