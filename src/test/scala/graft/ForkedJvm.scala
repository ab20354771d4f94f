package graft

import scala.sys.process._

/** Runs a test-classpath main in a fresh JVM, for scenarios the shared
  * TestSpark session cannot host in-process (a session stop, or a
  * session built with a different configuration). `Test / fork := true`
  * puts the full test classpath in `java.class.path`. */
object ForkedJvm {

  /** Exit code and combined stdout/stderr of `mainClass args`. */
  def run(mainClass: String, args: String*): (Int, String) = {
    val javaBin = new java.io.File(
      new java.io.File(sys.props("java.home"), "bin"), "java").getAbsolutePath
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx2g", "-Dspark.ui.enabled=false",
      "-cp", sys.props("java.class.path"),
      mainClass) ++ args
    val out = new StringBuilder
    val logger = ProcessLogger(l => out.append(l).append('\n'),
      l => out.append(l).append('\n'))
    val rc = Process(cmd).!(logger)
    (rc, out.toString)
  }
}
