package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The engine's JVM-global option surface is a fixed list of deployment
  * settings. Plan and algorithm choices belong to Catalyst/AQE and to
  * operator parameters, not to a system property or environment variable
  * that flips a second code path; a new read must be added here on
  * purpose. */
class OptionSurfaceSpec extends AnyFunSuite {

  private val allowed = Set(
    "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_SF1",
    "SPARK_GRAFT_SF1_DIR", "SPARK_GRAFT_BENCH_OUT",
    "graft.log.dir", "java.io.tmpdir", "java.class.path")

  // a read whose name is not a string literal records as "<dynamic>",
  // which the allow-list never holds
  private val read =
    """(?:sys\.props|sys\.env|System\.getProperty|System\.getenv)(?:\s*\.\s*\w+)?\s*(?:\(\s*(?:"([^"]*)")?)?""".r

  test("src/main reads only the allow-listed system properties and env vars") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: ${root.toAbsolutePath}")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val reads = sources.flatMap { (p: Path) =>
      read.findAllMatchIn(Files.readString(p))
        .map(m => Option(m.group(1)).getOrElse("<dynamic>") -> p)
    }
    val names = reads.map(_._1).toSet
    val unexpected = reads.filterNot(r => allowed(r._1))
    assert(unexpected.isEmpty, s"reads outside the allow-list: $unexpected")
    assert(names == allowed, s"allow-listed names no longer read: ${allowed -- names}")
  }
}
