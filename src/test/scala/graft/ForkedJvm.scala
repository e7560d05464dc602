package graft

import java.nio.file.Paths
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

/** Starts a main class of this build in a second JVM on the test
  * classpath, for specs whose adversary or subject is another
  * process. The child gets the module opens Spark needs on JDK 17
  * (the list build.sbt passes the test JVM) and a 2 GB heap; its
  * stdout and stderr are drained concurrently, so a chatty child can
  * never block on a full pipe while the host does its own work.
  */
object ForkedJvm {
  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  final class Child private[ForkedJvm] (proc: Process) {
    private val out = new java.lang.StringBuffer
    private val drainer = new Thread(() => {
      val in = proc.getInputStream
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.append(new String(buf, 0, n, "UTF-8")); n = in.read(buf) }
    })
    drainer.setDaemon(true)
    drainer.start()

    /** Waits for the child to exit; returns its exit code and output.
      * A child still running after `timeoutS` is killed and fails the
      * calling test.
      */
    def await(timeoutS: Long = 300): (Int, String) = {
      if (!proc.waitFor(timeoutS, TimeUnit.SECONDS)) {
        proc.destroyForcibly()
        throw new AssertionError(s"forked JVM did not finish in $timeoutS s: " +
          out.toString.takeRight(2000))
      }
      drainer.join(10000)
      (proc.exitValue(), out.toString)
    }
  }

  def start(mainClass: String, args: Seq[String],
            env: Map[String, String] = Map.empty): Child = {
    val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx2g", "-Dspark.ui.enabled=false",
      "-cp", sys.props("java.class.path"), mainClass) ++ args
    val pb = new ProcessBuilder(cmd.asJava)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    pb.redirectErrorStream(true)
    new Child(pb.start())
  }
}
