package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

/** The operating-system processes a block of code starts, JVM-wide:
  * the block runs under a Flight Recorder recording with only
  * `jdk.ProcessStart` enabled, and each recorded start is returned
  * with its command line, the starting thread's name and its stack
  * (frames as `class.method`, innermost first). A fork+exec is
  * per-call fixed cost that no Spark metric shows, so contracts on
  * it read this. */
object ProcessCount {
  final case class Start(command: String, thread: String,
                         frames: Seq[String])

  def apply[T](body: => T): (T, Seq[Start]) = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      val out = try body finally rec.stop()
      val f = Files.createTempFile("process-count", ".jfr")
      try {
        rec.dump(f)
        (out, RecordingFile.readAllEvents(f).asScala.toSeq
          .filter(_.getEventType.getName == "jdk.ProcessStart")
          .map { e =>
            Start(e.getString("command"),
              Option(e.getThread).map(_.getJavaName).orNull,
              Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
                .map(fr => fr.getMethod.getType.getName + "." +
                  fr.getMethod.getName))
          })
      } finally Files.delete(f)
    } finally rec.close()
  }
}
