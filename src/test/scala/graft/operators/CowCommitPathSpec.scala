package graft.operators

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guards on CowTable's module boundary. `commitWithRetry` and
  * `commitWithStatsDF` are `private` to the commit seam (`CowCommit`),
  * so the compiler keeps every other seam off the retry protocol; the
  * merge entries run one engine (`mergeRows`), every deletion-vector
  * consumer reads through one reader (`dvFiles`), and no operators file
  * grows past the size the seams were cut to. */
class CowCommitPathSpec extends AnyFunSuite {
  private val OperatorsDir = Paths.get("src/main/scala/graft/operators")

  /** The engine: the object with its data types and its four seams. */
  private val EngineFiles = Seq("CowTable", "CowCommit", "CowPlanning",
    "CowRowOps", "CowMaintenance")

  private def linesOf(file: String): Seq[String] =
    Files.readAllLines(OperatorsDir.resolve(file + ".scala")).asScala.toSeq

  private val MemberDef = """^  (?:private(?:\[\w+\])? )?def (\w+)""".r

  /** The members (two-space-indented `def`s) of `files` whose bodies
    * contain `token`; comments and a definition of `token` do not
    * count. */
  private def ownersOf(token: String,
      files: Seq[String] = EngineFiles): Set[String] =
    files.flatMap { f =>
      var owner = "?"
      linesOf(f).flatMap { l =>
        MemberDef.findPrefixMatchOf(l).foreach(m => owner = m.group(1))
        val t = l.trim
        val comment = t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
        if (!comment && l.contains(token) && !l.contains("def " + token))
          Some(owner)
        else None
      }
    }.toSet

  private def callersOf(callee: String, files: Seq[String] = EngineFiles) =
    ownersOf(callee + "(", files)

  test("only the commit seam reaches the retry protocol") {
    val commit = linesOf("CowCommit").mkString("\n")
    Seq("commitWithRetry", "commitWithStatsDF").foreach(name =>
      assert(commit.contains(s"  private def $name("),
        s"$name must stay private to CowCommit"))
    assertCompiles("CowTable.rowLevelCommit _")
    assertDoesNotCompile("CowTable.commitWithRetry _")
    assertDoesNotCompile("CowTable.commitWithStatsDF _")
  }

  test("the merge entries share one engine: source check, discovery, DV write, commit") {
    val rowOps = Seq("CowRowOps")
    val entries = Set("mergeInto", "upsertMor", "mergeIntoHybrid")
    assert(callersOf("checkSourceKeys") == Set("mergeRows"))
    assert(callersOf("mergeCandidateFiles") == Set("mergeRows"))
    assert(callersOf("writeDvs") == Set("mergeRows", "deleteWhere"))
    assert(callersOf("mergeRows") == entries)
    assert(callersOf("mergeRows", rowOps) == entries,
      "the merge engine lives in the row-level seam")
    val own = callersOf("rowLevelCommit") intersect entries
    assert(own.isEmpty, s"merge entries commit through mergeRows: $own")
  }

  test("deletion vectors are read raw only by the one reader, the range anti-join and the gate fixtures") {
    assert(callersOf("dvRuns") == Set("dvFiles", "applyDvFilter"))
    assert(ownersOf("spark.read.schema(dvSchema)") ==
      Set("dvRuns", "rewriteDeletes"))
    val engine = EngineFiles.flatMap(linesOf).mkString("\n")
    Seq("dvPacked", "dvRunArrays", "dvRunsReserved").foreach(name =>
      assert(!engine.contains(name), s"$name is back in the CowTable engine"))
    val exempt = (EngineFiles :+ "CowGates").map(_ + ".scala").toSet
    val others = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        !(p.getParent.endsWith(OperatorsDir) &&
          exempt.contains(p.getFileName.toString)))
      .filter { p =>
        val text = new String(Files.readAllBytes(p), "UTF-8")
        text.contains("dvRuns(") || text.contains(".schema(CowTable.dvSchema)")
      }.toSeq
    assert(others.isEmpty, s"read DVs through CowTable.dvFiles: $others")
    // DV parquet reaches the driver only through the cached per-file
    // reader (the entries sidecars are the other driver read)
    assert(callersOf("readParquetDriver") == Set("loadEntries", "dvRunsOf"))
    assert(callersOf("dvRunsOf") == Set("driverRuns"))
    // and one size switch decides it: only dvFiles serves driverRuns
    assert(callersOf("driverRuns") == Set("dvFiles"))
    // the read-side filter probes a broadcast variable: no source
    // broadcasts the reader's DataFrame into a join
    val joinBroadcast = """broadcast\(\s*(?:CowTable\.)?dvFiles\(""".r
    val joined = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => joinBroadcast.findFirstIn(
        new String(Files.readAllBytes(p), "UTF-8")).isDefined).toSeq
    assert(joined.isEmpty, s"a dvFiles DataFrame is broadcast: $joined")
    assert(!ownersOf(".join(broadcast(").contains("applyDvFilter"))
  }

  test("the per-op carry helpers are gone") {
    val engine = EngineFiles.flatMap(linesOf).mkString("\n")
    Seq("carryAllBut", "dvsReferencing").foreach(name =>
      assert(!engine.contains(name), s"$name is back in the CowTable engine"))
  }

  test("no operators source file passes 2,500 lines") {
    val sizes: Seq[(Path, Int)] = Files.list(OperatorsDir).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p -> Files.readAllLines(p).size).toSeq
    assert(sizes.exists(_._1.endsWith("CowTable.scala")), sizes)
    val big = sizes.filter(_._2 > 2500)
    assert(big.isEmpty, s"split these along their seams: $big")
  }
}
