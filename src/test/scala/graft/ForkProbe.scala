package graft

/** What the JVM forks while a piece of code runs. Without Hadoop's
  * native library its local filesystem starts shell processes
  * (`readlink`, `chmod`, `ls`) for link, permission and owner calls;
  * specs use this to pin code paths that must not. */
object ForkProbe {

  /** Commands of the processes the JVM started while `body` ran, from
    * an in-process JFR recording of `jdk.ProcessStart`. */
  def processStarts(body: => Unit): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val f = java.nio.file.Files.createTempFile("graft_forks", ".jfr")
    try {
      rec.dump(f)
      jdk.jfr.consumer.RecordingFile.readAllEvents(f).asScala.toSeq
        .map(_.getString("command"))
    } finally {
      rec.close()
      java.nio.file.Files.deleteIfExists(f)
    }
  }
}
