package perfbench

import java.io.File
import java.nio.file.Files

/** Self-tests of the driver's accounting that need no Spark session: a
  * throwing query is a failure and never a time; registry store bytes,
  * builds and collected generations are read correctly off disk; self time
  * subtracts child spans; listener events from before the traced passes are
  * not counted. Exits non-zero on the first failed check. */
object SelfTest {
  private def check(cond: Boolean, what: String): Unit =
    if (!cond) { System.err.println(s"FAIL $what"); sys.exit(1) }
    else println(s"ok   $what")

  private def write(f: File, bytes: Int): Unit = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, Array.fill[Byte](bytes)(1))
  }

  def main(args: Array[String]): Unit = {
    val t = new Tally
    val ok = t.run("good")(())
    val bad = t.run("boom")(throw new IllegalStateException("injected"))
    check(ok && !bad, "run reports success and failure")
    check(t.attempted == 2, "both attempts are counted")
    check(t.failures.map(_._1) == Seq("boom"), "the throwing query is a failure")
    check(!t.samples.contains("boom") && t.samples("good").size == 1,
      "the throwing query records no time")

    val root = Files.createTempDirectory(new File(args.headOption.getOrElse(".")).toPath, "store").toFile
    val gen1 = new File(root, "qual-abc/g-1")
    write(new File(gen1, "part-0.parquet"), 100)
    write(new File(root, "qual-abc/_GRAFT_COMPLETE"), 10)
    val s0 = StoreState.scan(root)
    check(s0.bytes == 110, "store bytes sum every file under the root")
    check(s0.generations == Set("qual-abc/g-1"), "generation directories are found")
    write(new File(root, "qual-abc/g-2/part-0.parquet"), 200)
    write(new File(root, "qual-abc/_GRAFT_COMPLETE"), 12)
    write(new File(root, "lang-def/g-1/part-0.parquet"), 50)
    write(new File(root, "lang-def/_GRAFT_COMPLETE"), 10)
    new File(gen1, "part-0.parquet").delete(); gen1.delete()
    val s1 = StoreState.scan(root)
    val (built, written, collected) = StoreState.diff(s0, s1)
    check(built == 2, "a rewritten and a new marker are two builds")
    check(written == 200 + 12 + 50 + 10, "bytes written count new and rewritten files")
    check(collected == 1, "a removed generation is collected")
    check(StoreState.dirBytes(root) == 272, "live bytes after the change")

    val spans = Seq(Span(0, "query", -1, "q", 0L, 10000000000L),
      Span(1, "construct", 0, "q", 0L, 4000000000L),
      Span(2, "execute", 0, "q", 4000000000L, 9000000000L))
    val self = Tracer.selfTimes(spans)
    check(math.abs(self("query") - 1.0) < 1e-9, "self time subtracts child spans")
    check(math.abs(self("execute") - 5.0) < 1e-9, "a leaf span's self time is its duration")

    val l = new Listeners
    def events(): Unit = {
      l.engine.onStageCompleted(null)
      l.executions.onSuccess("noop", null, 0L)
      l.streams.record(Map("input_rows" -> 5.0))
    }
    events(); events()
    l.reset()
    events()
    check(l.engine.snapshot()("stages") == 1.0, "stages before the reset are not counted")
    check(l.executions.count == 1, "query executions before the reset are not counted")
    check(l.streams.snapshot() == Seq(Map("input_rows" -> 5.0)),
      "streaming progress before the reset is not counted")

    def rm(f: File): Unit = { Option(f.listFiles()).foreach(_.foreach(rm)); f.delete() }
    rm(root)
  }
}
