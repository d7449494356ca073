package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The one materialization policy, held by a scan of the sources:
  * `CheckpointOps` is the only code in `src/main` that caches or cuts
  * lineage, so a second mechanism cannot come back unnoticed. */
class MaterializationPolicySpec extends AnyFunSuite {
  private val calls = Seq(".persist(", ".cache()", "localCheckpoint(",
    ".checkpoint(")

  /** The one documented exception: the training pipeline's ledger
    * persists its contaminated-id set, because a lazy checkpoint would
    * run before the action its `Observation` belongs to. */
  private val ledger = ("TrainingDataPipeline.scala", "cfg.shingleK).persist()")

  test("only CheckpointOps caches or checkpoints in src/main") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val hits = Files.walk(root).iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "checkpoints.scala")
      .flatMap { (p: Path) =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if calls.exists(line.contains) =>
            (p.getFileName.toString, i + 1, line.trim)
        }
      }
    val (allowed, found) = hits.partition { case (f, _, line) =>
      f == ledger._1 && line.endsWith(ledger._2) }
    assert(found.isEmpty, found.mkString("\n"))
    assert(allowed.size == 1, s"the ledger persist moved: $allowed")
  }
}
