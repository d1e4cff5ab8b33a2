package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

/** Memory figures of this JVM. */
object Jvm {
  /** Heap bytes allocated by all threads so far. Every object the program
    * makes (rows, buffers, cached blocks, broadcasts) adds to it, so its
    * growth over a stretch of work measures that work's memory, and, being
    * a count rather than a sample of the heap, repeats closely from run to
    * run. */
  def allocatedBytes: Long = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean].getTotalThreadAllocatedBytes

  /** Peak resident memory of the process (`VmHWM`), in KiB. */
  def vmHwmKb(): Long = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toLong).getOrElse(-1L)
  }
}
