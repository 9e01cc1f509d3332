package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Keeps the library on one parquet read path: a schema-less
  * `spark.read.parquet` outside [[Parquet]] would bring back the
  * schema-inference job every read used to launch. Reads that already
  * pin a schema (`.read.schema(...)`) are allowed where listed. Also
  * keeps it on one observation path, [[Observed]]. */
class ReadPathSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private def sources: Seq[Path] = {
    assert(Files.isDirectory(root), s"run from the repository root: $root not found")
    Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
  }

  private def isComment(lead: String): Boolean =
    lead.startsWith("*") || lead.startsWith("//") || lead.startsWith("/*")

  /** A DataFrameReader chain ending in a parquet read:
    * `.read[.schema(..)|.option(..)|.format(..)]*.parquet(`, or one
    * ending in `.load(` whose format is parquet (Spark's default). */
  private val parquetRead =
    ("""\.read(\s*\.\s*(schema|option|options|format)\s*\((?:[^()]|\([^()]*\))*\))*""" +
      """\s*\.\s*(parquet\s*\(|load\s*\()""").r

  /** Files allowed to read parquet, with their exact number of reads:
    * the helper itself (its pinned read and the inference fallback), and
    * the one snapshot re-read of `InternalCaches.snapshots`, which pins
    * the schema of the frame just written. */
  private val allowed = Map(
    "graft/Parquet.scala" -> 2,
    "graft/session.scala" -> 1)

  private def reads(file: Path): Seq[String] = {
    val text = new String(Files.readAllBytes(file), "UTF-8")
    parquetRead.findAllMatchIn(text).filter { m =>
      val lineStart = text.lastIndexOf('\n', m.start) + 1
      !isComment(text.substring(lineStart, m.start).trim)
    }.map(m => m.matched)
      .filter(r => !r.contains(".format") || r.contains("\"parquet\""))
      .toSeq
  }

  test("every parquet read in src/main goes through the pinned-schema helper") {
    val found = sources.map(f => root.relativize(f).toString.replace('\\', '/') -> reads(f))
      .filter(_._2.nonEmpty).toMap
    val stray = found.filter { case (f, _) => !allowed.contains(f) }
    assert(stray.isEmpty, s"parquet reads outside graft.Parquet: $stray")
    for ((f, n) <- allowed) {
      val rs = found.getOrElse(f, Nil)
      assert(rs.size == n, s"$f: expected $n parquet reads, found ${rs.size}: $rs")
      if (f != "graft/Parquet.scala")
        assert(rs.forall(_.contains(".schema(")), s"$f: allowed reads must pin a schema: $rs")
    }
  }

  test("every observed metric in src/main goes through the one observation helper") {
    // code lines that attach or read an Observation, per file
    val found = sources.map { f =>
      root.relativize(f).toString.replace('\\', '/') ->
        Files.readAllLines(f).asScala.filter { l =>
          !isComment(l.trim) &&
            (l.contains(".observe(") || l.contains("Observation") || l.contains("getOrEmpty"))
        }.toSeq
    }.filter(_._2.nonEmpty).toMap
    val stray = found.filter { case (f, _) => f != "graft/session.scala" }
    assert(stray.isEmpty, s"observations outside graft.Observed: $stray")
    assert(found.values.flatten.forall(!_.contains("getOrEmpty")),
      "a non-blocking Observation read would bring back the poll loop")
  }
}
