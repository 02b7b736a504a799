package perfbench

import java.nio.file.Files
import scala.util.Try
import graft.core.{FsStore, GraftStore}

/** Checks of the benchmark's own instruments that need no Spark run:
  * the store timer forwards every store member, and span unions are
  * computed over overlapping children. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    // every member of the store trait, the ones with defaults included,
    // is declared by the timer (a default left in place would bypass the
    // wrapped store's override, as memoDel's no-op would)
    val missing = classOf[GraftStore].getDeclaredMethods.toSeq
      .filterNot(m => m.getName.contains("$") || java.lang.reflect.Modifier.isStatic(m.getModifiers))
      .filter(m => Try(classOf[TimedStore].getDeclaredMethod(m.getName, m.getParameterTypes: _*)).isFailure)
      .map(_.getName)
    require(missing.isEmpty, s"TimedStore does not forward: ${missing.mkString(", ")}")

    val fs = new FsStore(Files.createTempDirectory("perfbench-selftest-").toString)
    val tracer = new Tracer("selftest", enabled = true)
    val t = new TimedStore(fs, tracer)
    require(t.stats eq fs.stats, "TimedStore must share the inner store's counters")
    // a stale memo entry can be replaced through the timer
    t.memoPut("op", "a"); t.memoDel("op"); t.memoPut("op", "b")
    require(fs.memoGet("op").contains("b"), "memoDel did not reach the inner store")
    require(t.memoized("op2")("c") == "c" && t.memoized("op2")("d") == "c",
      "memoized through the timer must compute once and then hit")
    require(tracer.allSpans.exists(_.name == "memo_get") && tracer.allSpans.exists(_.name == "memo_put"),
      "memo spans were not recorded")
    require(Tracer.unionNs(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L, "interval union")
    graft.core.FsUtil.deleteRecursively(java.nio.file.Paths.get(fs.rootDir))
    println("selftest: store timer forwards every member; span union ok")
  }
}
