package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

/** The operating-system processes a block of code starts, JVM-wide:
  * the block runs under a Flight Recorder recording with only
  * `jdk.ProcessStart` enabled, and the recorded events' command lines
  * are returned. A fork+exec is per-call fixed cost that no Spark
  * metric shows, so contracts on it read this. */
object ProcessCount {
  def apply[T](body: => T): (T, Seq[String]) = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      val out = try body finally rec.stop()
      val f = Files.createTempFile("process-count", ".jfr")
      try {
        rec.dump(f)
        (out, RecordingFile.readAllEvents(f).asScala.toSeq
          .filter(_.getEventType.getName == "jdk.ProcessStart")
          .map(_.getString("command")))
      } finally Files.delete(f)
    } finally rec.close()
  }
}
