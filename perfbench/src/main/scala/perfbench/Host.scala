package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** The host shape recorded with every result: results from different
  * shapes are not comparable. */
object Host {
  def memTotalMb: Long = {
    val f = new java.io.File("/proc/meminfo")
    if (!f.exists()) 0L
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().collectFirst {
        case l if l.startsWith("MemTotal:") => l.split("\\s+")(1).toLong / 1024
      }.getOrElse(0L) finally src.close()
    }
  }

  def describe(): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "mem_total_mb" -> memTotalMb,
    "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
    "spark" -> org.apache.spark.SPARK_VERSION,
    "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
    "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(f => f.startsWith("-X") || f.startsWith("-XX")).toSeq)
}
