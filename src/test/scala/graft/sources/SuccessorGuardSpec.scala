package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every txn commit builds its manifest as [[TxnTable.successor]] of the
  * head it read, so no writer restates which table facts carry over, and
  * the retry bound is one constant in the commit loop. */
class SuccessorGuardSpec extends AnyFunSuite {

  /** Spellings of a head fact carried by hand, and of a per-call retry
    * bound. */
  private val Needles = Seq("identityStart = base.", "nextId = base.",
    "txns = base.txns", "maxRetries")

  test("no source under graft/sources carries a head fact by hand") {
    val offenders = Files.list(Paths.get("src/main/scala/graft/sources"))
      .iterator().asScala.toSeq.filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if Needles.exists(line.contains) =>
            s"${p.getFileName}:${i + 1}: ${line.trim}"
        }
      }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
