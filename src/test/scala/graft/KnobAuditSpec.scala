package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Pins the set of environment variables and system properties the main
  * code reads. A losing variant belongs in git history, not behind a knob:
  * a new read must be added here on purpose, so knobs cannot grow back
  * silently.
  */
class KnobAuditSpec extends AnyFunSuite {
  private val Allowed = Set(
    "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_BENCH_PASSES",
    "SPARK_GRAFT_HUGE8_PASSES", "SPARK_GRAFT_BENCH_ONLY", "SPARK_GRAFT_SKIP_1E8",
    "SPARK_GRAFT_BENCH_MINIMA",
    // test hook: Round18FixesSpec forces the large LSH verify path with it
    "graft.lsh.smallDocsMax")

  private val mainRoot = Paths.get("src", "main", "scala")

  private def mainSources: Seq[Path] = {
    assert(Files.isDirectory(mainRoot), s"run from the repo root ($mainRoot missing)")
    val walk = Files.walk(mainRoot)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  /** Source text without comments (a comment may name a removed knob). */
  private def code(p: Path): String =
    Files.readString(p)
      .replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("//[^\n]*", "")

  private val Access = "(sys\\.env|sys\\.props|System\\.getenv|System\\.getProperty)".r
  private val NamedRead =
    ("(?:sys\\.env|sys\\.props|System\\.getenv|System\\.getProperty)\\s*" +
      "(?:\\.\\s*(?:get|getOrElse|contains|apply)\\s*)?\\(\\s*\"([^\"]+)\"").r

  test("main code reads exactly the allowlisted env vars and properties") {
    val reads = mainSources.flatMap { p =>
      val src = code(p)
      Access.findAllMatchIn(src).map { m =>
        val name = NamedRead.findPrefixMatchOf(src.substring(m.start)).map(_.group(1))
        assert(name.isDefined, s"$p: ${m.matched} read without a literal name: " +
          src.substring(m.start).takeWhile(_ != '\n'))
        name.get -> p
      }
    }
    val names = reads.map(_._1).toSet
    val extra = reads.filterNot(r => Allowed(r._1))
    assert(extra.isEmpty, s"reads outside the allowlist: ${extra.mkString(", ")}")
    assert(names == Allowed, s"allowlisted but never read: ${Allowed -- names}")
  }

  test("HugeModel sets no session conf") {
    val p = mainRoot.resolve(Paths.get("graft", "tpch", "HugeModel.scala"))
    assert(!code(p).contains("spark.conf.set"))
  }
}
