package graft.operators

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guards on CowTable's commit paths: every operation that
  * rewrites rows or files commits through `rowLevelCommit`, so the
  * retry protocol has one data-side caller next to the metadata-only
  * commits, no op keeps a private copy of the carry, and the three
  * merge entries run one engine (`mergeRows`). On the read side, every
  * deletion-vector consumer reads through one reader (`dvFiles`). */
class CowCommitPathSpec extends AnyFunSuite {
  private val lines = Files.readAllLines(
    Paths.get("src/main/scala/graft/operators/CowTable.scala")).toArray
    .map(_.toString).toSeq

  private val MemberDef = """^  (?:private(?:\[\w+\])? )?def (\w+)""".r

  /** The object members (two-space-indented `def`s) whose bodies
    * contain `token`; comments and a definition of `token` do not
    * count. */
  private def ownersOf(token: String): Set[String] = {
    var owner = "?"
    lines.flatMap { l =>
      MemberDef.findPrefixMatchOf(l).foreach(m => owner = m.group(1))
      val t = l.trim
      val comment = t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
      if (!comment && l.contains(token) && !l.contains("def " + token))
        Some(owner)
      else None
    }.toSet
  }

  private def callersOf(callee: String): Set[String] = ownersOf(callee + "(")

  private val metadataCommits =
    Set("alterTable", "declareBloom", "consolidateBlooms", "publishBranch")

  test("commitWithRetry is called only by rowLevelCommit and the metadata commits") {
    val callers = callersOf("commitWithRetry")
    assert(callers.contains("rowLevelCommit"), callers)
    assert(callers.subsetOf(metadataCommits + "rowLevelCommit"),
      s"commit data rewrites through rowLevelCommit: $callers")
  }

  test("commitWithStatsDF is called only by the committers that own a version") {
    val callers = callersOf("commitWithStatsDF")
    val allowed = metadataCommits ++ Set("rowLevelCommit", "commitInit",
      "createBranch", "commitEntries", "commitEntriesDF")
    assert(callers.contains("rowLevelCommit"), callers)
    assert(callers.subsetOf(allowed),
      s"commit data rewrites through rowLevelCommit: ${callers -- allowed}")
  }

  test("the merge entries share one engine: source check, discovery, DV write, commit") {
    val entries = Set("mergeInto", "upsertMor", "mergeIntoHybrid")
    assert(callersOf("checkSourceKeys") == Set("mergeRows"))
    assert(callersOf("mergeCandidateFiles") == Set("mergeRows"))
    assert(callersOf("writeDvs") == Set("mergeRows", "deleteWhere"))
    assert(callersOf("mergeRows") == entries)
    val own = callersOf("rowLevelCommit") intersect entries
    assert(own.isEmpty, s"merge entries commit through mergeRows: $own")
  }

  test("deletion vectors are read raw only by the one reader, the range anti-join and the gate fixtures") {
    def outsideFixtures(owners: Set[String]) = owners.filterNot(_.startsWith("lh"))
    assert(outsideFixtures(callersOf("dvRuns")) == Set("dvFiles", "applyDvFilter"))
    assert(outsideFixtures(ownersOf("spark.read.schema(dvSchema)")) ==
      Set("dvRuns", "rewriteDeletes"))
    val src = lines.mkString("\n")
    Seq("dvPacked", "dvRunArrays", "dvRunsReserved").foreach(name =>
      assert(!src.contains(name), s"$name is back in CowTable.scala"))
    val others = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        !p.endsWith("CowTable.scala"))
      .filter { p =>
        val text = new String(Files.readAllBytes(p), "UTF-8")
        text.contains("dvRuns(") || text.contains(".schema(CowTable.dvSchema)")
      }.toSeq
    assert(others.isEmpty, s"read DVs through CowTable.dvFiles: $others")
  }

  test("the per-op carry helpers are gone") {
    val src = lines.mkString("\n")
    Seq("carryAllBut", "dvsReferencing").foreach(name =>
      assert(!src.contains(name), s"$name is back in CowTable.scala"))
  }
}
