package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import com.sun.management.OperatingSystemMXBean

/** What the benchmark reads from the JVM and the OS about the host. */
object Host {
  private val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[OperatingSystemMXBean]

  /** CPU seconds of this process, every thread included. */
  def processCpuS: Double = os.getProcessCpuTime / 1e9

  /** Milliseconds the JVM's collectors have spent, summed. */
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** CPU seconds of the JIT compiler threads, read from the OS: part
    * of the process CPU, shown on its own because the JIT keeps
    * compiling Spark's generated code throughout a run.
    */
  def jitCpuS: Double = Try {
    val tasks = Files.list(Paths.get("/proc/self/task"))
    try tasks.iterator.asScala.map { t =>
      Try {
        val st = Files.readString(t.resolve("stat"))
        val comm = st.substring(st.indexOf('(') + 1, st.lastIndexOf(')'))
        if (comm.startsWith("C1 CompilerThre") || comm.startsWith("C2 CompilerThre")) {
          val f = st.substring(st.lastIndexOf(')') + 2).split(" ")
          (f(11).toLong + f(12).toLong) / 100.0 // utime + stime, USER_HZ = 100
        } else 0.0
      }.getOrElse(0.0)
    }.sum finally tasks.close()
  }.getOrElse(0.0)

  /** Heap in use right after a full collection: the live set. The
    * first collection lets Spark's ContextCleaner see unreachable RDDs
    * and drop their blocks; the second, after it has had time to, frees
    * them.
    */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def load1: Double = Try(Files.readString(Paths.get("/proc/loadavg")).split(" ").head.toDouble).getOrElse(-1.0)

  /** Steal time of the whole host so far, in seconds (USER_HZ = 100). */
  def stealS: Double = Try {
    val cpu = Files.readAllLines(Paths.get("/proc/stat")).asScala.head.trim.split("\\s+")
    cpu(8).toDouble / 100.0
  }.getOrElse(-1.0)

  /** A fixed CPU-bound loop that runs no graft or Spark code: its
    * time says how fast the host ran this run. Median of three timed
    * rounds after two untimed ones.
    */
  def probeS(): Double = {
    def round(): Double = {
      val t0 = System.nanoTime()
      var x = 88172645463325252L
      var acc = 0L
      var i = 0
      while (i < 50000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        acc += x & 1023
        i += 1
      }
      if (acc == 42L) println("") // keeps the loop from being optimized away
      (System.nanoTime() - t0) / 1e9
    }
    round(); round()
    Seq(round(), round(), round()).sorted.apply(1)
  }
}
