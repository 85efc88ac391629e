package graft.tools

/** Headless CI entry point for the scale-audit battery (VERDICT r10
  * item 6): the named 100x audits were a manual `main` with env vars,
  * and PlanChecksSpec proved that promoting plan claims into a runnable
  * gate catches rot. This runs the full 10x battery plus one or more
  * 100x families in ONE JVM, exits nonzero on any invariant failure
  * (loud), and writes the per-stage exchange tables it printed to a
  * committed ledger file — so the round's BASELINE.md entry is generated
  * from audit output, never hand-copied.
  *
  * Usage:
  *   sbt "runMain graft.tools.AuditBattery"             # 10x + rotation pick
  *   sbt "runMain graft.tools.AuditBattery asof100 moments100"  # explicit
  *   GRAFT_ROUND=12 sbt "runMain graft.tools.AuditBattery"      # rotation by round
  *
  * The rotation family is families100(GRAFT_ROUND mod |families100|)
  * when GRAFT_ROUND is set; without it the battery runs the 10x suite
  * only (explicit args always win). Ledger: tools/ledger/audit_r<N>.md
  * (or audit_latest.md without GRAFT_ROUND) — commit it with the round.
  */
object AuditBattery {

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SCALE_SRC", "/root/testdata/sf0.1")
    val out10 = sys.env.getOrElse("SCALE_DIR", "/tmp/graft_sf1")
    val out100 = sys.env.getOrElse("SCALE_DIR_100", "/tmp/graft_sf10")
    val round = sys.env.get("GRAFT_ROUND").flatMap(_.toIntOption)
    val families: Seq[String] =
      if (args.nonEmpty) args.toSeq
      else round.map(r =>
        Seq(ScaleAudit.families100(r % ScaleAudit.families100.size))).getOrElse(Seq.empty)

    val spark = graft.GraftSession()

    // tee stdout: everything the audits print lands in the ledger too
    val buf = new java.io.ByteArrayOutputStream()
    val realOut = System.out
    val tee = new java.io.PrintStream(new java.io.OutputStream {
      override def write(b: Int): Unit = { realOut.write(b); buf.write(b) }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        realOut.write(b, off, len); buf.write(b, off, len)
      }
      override def flush(): Unit = realOut.flush()
    }, true)

    var failures = 0
    Console.withOut(tee) {
      println(s"[audit-battery] 10x battery + 100x families: " +
        s"${if (families.isEmpty) "(none)" else families.mkString(", ")}" +
        round.map(r => s"  [round $r rotation]").getOrElse(""))
      // the full 22-family battery accumulates localCheckpoint blocks
      // across families in ONE JVM; an 8g driver heap OOM'd in the late
      // families (r15) where the documented 48g runs clean — surface the
      // heap early instead of dying 20 minutes in
      val maxGb = Runtime.getRuntime.maxMemory / (1 << 30)
      println(s"[audit-battery] driver heap: ${maxGb} GiB" +
        (if (families.size > 3 && maxGb < 16)
          "  WARNING: multi-family batteries are validated at 48g " +
            "(SPARK_DRIVER_MEM=48g) — low heaps have OOM'd in late families"
         else ""))
      // per-family heap attribution (VERDICT r16 task 4): the low-heap
      // warning above warns but records nothing — print each family's
      // peak driver heap (JMX pool high-water, reset per family) so the
      // localCheckpoint-accumulation class has a trend line in the
      // ledger. Soft band: any single family peaking above ~0.75x of max
      // heap is the OOM precursor the r15 failures showed; documented in
      // BASELINE.md (trend check, not a gate — corpus sizes differ per
      // family by design).
      def heapLine(tag: String): Unit = {
        println(s"[audit-battery] heap[$tag]: peak " +
          s"${graft.util.HeapStat.fmt(graft.util.HeapStat.peakGiB)} GiB, " +
          s"settled ${graft.util.HeapStat.fmt(graft.util.HeapStat.usedGiB)} GiB")
        graft.util.HeapStat.resetPeak()
      }
      graft.util.HeapStat.resetPeak()
      failures += ScaleAudit.run10x(spark, src, out10)
      heapLine("10x")
      families.foreach { f =>
        println(s"[audit-battery] --- 100x family: $f ---")
        failures += ScaleAudit.run100x(spark, f, src, out100)
        heapLine(f)
      }
      println(if (failures == 0) "[audit-battery] ALL INVARIANTS HOLD"
              else s"[audit-battery] $failures FAILURES")
    }

    val tag = round.map(r => s"r$r").getOrElse("latest")
    val dir = java.nio.file.Paths.get("tools/ledger")
    java.nio.file.Files.createDirectories(dir)
    val header = s"# Scale-audit battery ledger ($tag)\n\n" +
      s"Generated by `graft.tools.AuditBattery` — 10x battery" +
      (if (families.isEmpty) "" else s" + 100x ${families.mkString(", ")}") +
      s". Verdict: ${if (failures == 0) "ALL INVARIANTS HOLD" else s"$failures FAILURES"}.\n\n```\n"
    java.nio.file.Files.write(dir.resolve(s"audit_$tag.md"),
      (header + buf.toString("UTF-8") + "```\n").getBytes("UTF-8"))
    println(s"[audit-battery] ledger written: tools/ledger/audit_$tag.md")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
