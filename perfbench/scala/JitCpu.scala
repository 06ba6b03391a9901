package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** CPU seconds of this JVM's JIT compiler threads so far, from
  * /proc/self/task. A compiler thread that has exited is not counted, so
  * the JVM runs with a fixed set of compiler threads.
  */
object JitCpu {
  private val TicksPerSec = 100.0

  def seconds(): Double = {
    val s = Files.list(Paths.get("/proc/self/task"))
    val tasks = try s.iterator.asScala.toList finally s.close()
    tasks.flatMap { t =>
      try {
        // pid (comm) state ppid ... utime stime: fields 14 and 15
        val stat = new String(Files.readAllBytes(t.resolve("stat")), UTF_8)
        val close = stat.lastIndexOf(')')
        if (!stat.substring(stat.indexOf('(') + 1, close).contains("CompilerThre")) None
        else {
          val f = stat.substring(close + 2).split(" ")
          Some((f(11).toLong + f(12).toLong) / TicksPerSec)
        }
      } catch { case _: java.io.IOException => None } // a thread that ended meanwhile
    }.sum
  }
}
