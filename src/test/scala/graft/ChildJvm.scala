package graft

import java.lang.management.ManagementFactory
import java.nio.file.Paths

import scala.jdk.CollectionConverters._

/** A main of this build started as a plain `java` process, outside
  * spark-submit and with no master given: `-Xmx1g`, this JVM's test
  * classpath and the JDK 17 module opens Spark needs (spark-submit would
  * add them); nothing else of this JVM's options, so no spark.* property
  * leaks in. Stderr is merged into stdout. */
object ChildJvm {
  def apply(mainClass: String, tmpDir: String): ProcessBuilder = {
    val java = Paths.get(System.getProperty("java.home"), "bin", "java")
    val opens = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(_.startsWith("--add-opens"))
    new ProcessBuilder((Seq(java.toString, "-Xmx1g",
        s"-Djava.io.tmpdir=$tmpDir") ++
      opens ++ Seq("-cp", System.getProperty("java.class.path"),
        mainClass)).asJava)
      .redirectErrorStream(true)
  }
}
