package graft.tools

/** Partitioning-invariance sweep (builder-side tooling): run every
  * batch query under two different `spark.sql.shuffle.partitions`
  * settings and require BYTE-identical canonical results.
  *
  * Partition count is the knob a cluster changes most casually — if any
  * operator's output depends on it (a nondeterministic tie-break, an
  * order-sensitive float fold, a sketch whose bytes vary with merge
  * shape), the engine silently returns different answers on different
  * clusters. Every operator here is designed partitioning-invariant
  * (deterministic tie-breaks, decimal/integer folds, merge-commutative
  * sketch states); this sweep is the whole-surface enforcement of that
  * design rule, complementing the per-operator invariance specs.
  *
  * Streaming replay gates (`*_stream`) are skipped: they re-stage files
  * and run a real streaming query per invocation (minutes each), and
  * each already gate-checks equality against its batch twin — whose
  * batch form IS swept here.
  *
  * Usage: runMain graft.tools.InvarianceSweep <sfDir> [outJson] [names…]
  * Exit 1 on any mismatch. Writes {"query": "ok"|"MISMATCH"|"err:…"}.
  */
object InvarianceSweep {
  /** Canonical fingerprint: rows rendered to strings (stable formats for
    * the types the gates emit), sorted, hashed. Column order fixed by
    * name sort so SELECT-list order is not part of the contract. */
  private def fingerprint(df: org.apache.spark.sql.DataFrame): String = {
    val cols = df.columns.sorted
    val proj = df.select(cols.map(org.apache.spark.sql.functions.col): _*)
    val rows = proj.collect().map { r =>
      (0 until r.length).map { i =>
        val v = r.get(i)
        if (v == null) "\u0000" else v match {
          case d: Double => java.lang.Double.toHexString(d) // bit-exact
          case f: Float => java.lang.Float.toHexString(f)
          case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
          case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
          case other => other.toString
        }
      }.mkString("")
    }.sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update(r.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outJson = if (args.length > 1) Some(args(1)) else None
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args.drop(2).toSet) else None
    val spark = graft.Graft.session(master = "local[16]")
    spark.sparkContext.setLogLevel("ERROR")
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filterNot(_.endsWith("_stream"))
      .filter(n => only.forall(_.contains(n)))
    val results = names.map { name =>
      val r = try {
        val fn = graft.SparkEntry.queries(name)
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        val a = fingerprint(fn(spark, sfDir))
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        val b = fingerprint(fn(spark, sfDir))
        if (a == b) "ok" else "MISMATCH"
      } catch {
        case e: Throwable =>
          "err: " + e.toString.replaceAll("""["\\\n\r\t]""", " ").take(200)
      }
      println(s"[invariance] $name: $r")
      (name, r)
    }
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    val bad = results.filterNot(_._2 == "ok")
    val json = results.map { case (k, v) => s""""$k":"$v"""" }
      .mkString("{", ",", "}")
    outJson.foreach(p => java.nio.file.Files.writeString(
      java.nio.file.Paths.get(p), json + "\n"))
    println(s"[invariance] ${results.size - bad.size}/${results.size} invariant")
    spark.stop()
    if (bad.nonEmpty) {
      bad.foreach { case (k, v) => System.err.println(s"[invariance] $k: $v") }
      sys.exit(1)
    }
  }
}
