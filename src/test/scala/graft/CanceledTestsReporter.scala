package graft

import org.scalatest.Reporter
import org.scalatest.events.{Event, RunAborted, RunCompleted, RunStopped, TestCanceled}

/** Names every canceled test in ONE line when the run ends. A canceled
  * test is an `assume` that did not hold (the reference-corpus parity
  * specs cancel when that corpus is not checked out), and sbt still
  * closes such a run with "All tests passed" — this line keeps the
  * skipped coverage visible. Installed in build.sbt as a custom
  * ScalaTest reporter (`-C`).
  */
class CanceledTestsReporter extends Reporter {
  private val canceled = new java.util.concurrent.ConcurrentLinkedQueue[String]

  override def apply(event: Event): Unit = event match {
    case t: TestCanceled => canceled.add(s"${t.suiteName}: ${t.testName}")
    case _: RunCompleted | _: RunStopped | _: RunAborted if !canceled.isEmpty =>
      val names = scala.jdk.CollectionConverters.IteratorHasAsScala(canceled.iterator).asScala.toSeq
      println(s"CANCELED ${names.size} test(s), not run: ${names.mkString("; ")}")
      canceled.clear()
    case _ =>
  }
}
