package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** Restore correctness AT VOLUME (VERDICT r14 item 6):
  * RocksDbStateSpec proves the RocksDB provider works on one run;
  * this spec drives [[graft.BenchState]] — 1,000,000 WFRuns folded
  * into parked state under RocksDBStateStoreProvider, query restarted
  * from the checkpoint, 16 probe runs completed — in its own JVM
  * (local[SPARK_GRAFT_CPUS], inherited from the test env) and asserts the probes all
  * folded the exact payload after restore. BenchState exits non-zero
  * on any probe mismatch, so exit 0 IS the correctness assertion;
  * the throughput/restore numbers land in SCALING.md. It also checks
  * that BenchState deletes its checkpoint before exiting. */
class RocksDbVolumeSpec extends AnyFunSuite {

  test("1M parked runs restore correctly under RocksDB") {
    val cp = System.getProperty("java.class.path")
    val pb = new ProcessBuilder(
      (Seq("java") ++
        Seq("java.lang", "java.lang.invoke", "java.lang.reflect",
          "java.io", "java.net", "java.nio", "java.util",
          "java.util.concurrent", "java.util.concurrent.atomic",
          "sun.nio.ch", "sun.nio.cs", "sun.security.action",
          "sun.util.calendar")
          .flatMap(p => Seq("--add-opens", s"java.base/$p=ALL-UNNAMED")) ++
        Seq("-Xmx8g", "-Dspark.ui.enabled=false",
          "-Dspark.sql.session.timeZone=UTC",
          // BenchState exits through Runtime.halt, which skips
          // deleteOnExit: the RocksDB and LZ4 native libraries it
          // extracts into java.io.tmpdir would stay behind. Under this
          // JVM's scratch root, this JVM's shutdown hook deletes them.
          s"-Djava.io.tmpdir=${graft.util.Dirs.scratch("graft-statebench-tmp-")}",
          "-cp", cp, "graft.BenchState", "1000000", "rocksdb")): _*)
    // The full output goes to a file the OS writes, so nothing blocks
    // on the pipe: the waitFor cap below is live, and a failure keeps
    // its whole log for triage, not just the tail in the assert.
    val log = new java.io.File("target/rocksdb-volume.log")
    log.getParentFile.mkdirs()
    pb.redirectErrorStream(true)
    pb.redirectOutput(log)
    val proc = pb.start()
    // Cap sizing (r20, VERDICT r19 item 1): the fold takes ~47 s on
    // this box run alone, but the r19 driver gate saw it exceed the
    // old 480 s cap when the shared host was contended (external load
    // 1-12 during that round) — a load-sensitive flake on an untouched
    // path. 1800 s keeps ~38× headroom over the measured wall so host
    // contention cannot redden the gate, while a genuinely hung
    // subprocess still fails deterministically.
    val exited = proc.waitFor(1800, java.util.concurrent.TimeUnit.SECONDS)
    if (!exited) proc.destroyForcibly().waitFor()
    val lines = {
      val src = scala.io.Source.fromFile(log, "UTF-8")
      try src.getLines().toVector finally src.close()
    }
    val evidence = s"last 40 lines of ${log.getAbsolutePath}:\n" +
      lines.takeRight(40).mkString("\n")
    assert(exited, s"BenchState did not finish in 1800 s; $evidence")
    assert(proc.exitValue() == 0,
      s"BenchState failed (exit ${proc.exitValue()}); $evidence")
    val result = lines.filter(_.contains("state_volume")).mkString("\n")
    assert(result.contains("\"probe_failures\":0"), evidence)
    assert(result.contains("\"n_runs\":1000000"), evidence)
    // halt skips shutdown hooks, so BenchState deletes its scratch
    // (the ~180 MB RocksDB checkpoint) itself before exiting
    val checkpoint = lines.find(_.contains("state_volume")).flatMap { l =>
      graft.engine.LHJson.parse(l.dropWhile(_ != '{')) match {
        case m: scala.collection.immutable.ListMap[String @unchecked, Any @unchecked] =>
          m.get("checkpoint").collect { case p: String => p }
        case _ => None
      }
    }
    assert(checkpoint.nonEmpty,
      s"no checkpoint path in the result line; $evidence")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(checkpoint.get)),
      s"BenchState left its checkpoint ${checkpoint.get} behind")
  }
}
