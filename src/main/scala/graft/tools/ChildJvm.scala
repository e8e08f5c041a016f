package graft.tools

/** Dev/test helper: launch another main of THIS build in a fresh JVM
  * (the forked sbt JVM carries the full classpath in java.class.path;
  * the URLClassLoader walk is the defensive fallback). Used by the
  * crash/restart proofs in RestartSpec (RestartDriver,
  * CurationKillDriver) — the point is a REAL process boundary, not a
  * thread.
  */
object ChildJvm {

  private def classpath: String = {
    def urls(cl: ClassLoader): Seq[String] = cl match {
      case null => Nil
      case u: java.net.URLClassLoader =>
        u.getURLs.toSeq.flatMap(x =>
          scala.util.Try(java.nio.file.Paths.get(x.toURI).toString)
            .toOption) ++ urls(u.getParent)
      case other => urls(other.getParent)
    }
    (System.getProperty("java.class.path")
      .split(java.io.File.pathSeparator).toSeq ++
      urls(getClass.getClassLoader))
      .filter(_.nonEmpty).distinct
      .mkString(java.io.File.pathSeparator)
  }

  /** Run `mainClass` with `args`; returns (exitCode, combined output).
    * Output is streamed to a byte buffer, not inherited, so callers can
    * assert on the child's printed markers.
    */
  def run(mainClass: String, args: Seq[String],
          maxHeap: String = "8g"): (Int, String) = {
    val javaBin = java.nio.file.Paths.get(
      System.getProperty("java.home"), "bin", "java").toString
    val cmd = Seq(javaBin) ++ graft.core.Sessions.jdk17AddOpens ++ Seq(
      s"-Xmx$maxHeap", "-cp", classpath, mainClass) ++ args
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    (p.waitFor(), out)
  }
}
