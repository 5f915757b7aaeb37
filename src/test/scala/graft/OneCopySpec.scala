package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex
import org.scalatest.funsuite.AnyFunSuite

/** Source-scan gate that keeps harness plumbing at one copy each:
  * [[Session]] builds every session and is the one reader of
  * `SPARK_GRAFT_CPUS`, Hadoop's `FileUtil.fullyDelete` does every
  * recursive delete, [[graft.plans.DmlViews]] holds the one entry
  * point, target guard and parser command of the four DML verbs, and
  * [[graft.ops.Graph]] builds the customer–supplier graph and its
  * undirected form once, in Spark and in the DuckDB oracle, and the
  * near-dup family ([[graft.ops.TextSim]], Graph) and the ts_* queries
  * ([[graft.ops.Relational]]) define each relation they share once
  * per engine. Every reused intermediate frame goes through one of the
  * three reuse helpers in ops/package.scala, and every durable store
  * publishes through [[graft.ops.PersistedStore]]. Board-wide, a clone
  * ratchet caps the 6-line windows that repeat anywhere in
  * src/main/scala, and every oracle text two keys share is one instance.
  * Copies drift apart (session confs did), so this spec fails when one
  * comes back, and when a script or run doc names a main
  * that no longer exists.
  */
class OneCopySpec extends AnyFunSuite {

  private def mainSources: Seq[(Path, String)] = {
    val s = Files.walk(Paths.get("src/main/scala"))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .sortBy(_.toString).map(p => p -> Files.readString(p))
    finally s.close()
  }

  /** A `def name(x: File)` that lists the directory and recurses into
    * `name` within its first few lines: the hand-written recursive
    * delete that `FileUtil.fullyDelete` replaces. */
  private val recursiveDelete =
    ("""def (\w+)\(\w+: (?:java\.io\.)?File\)[^\n]*\n(?:[^\n]*\n){0,3}?""" +
      """[^\n]*listFiles\b[^\n]*\b\1\b""").r

  test("src/main/scala has one SparkSession builder, one reader of " +
      "SPARK_GRAFT_CPUS, and no hand-written recursive delete") {
    val srcs = mainSources
    def filesWith(needle: String) = srcs.collect {
      case (p, text) if text.contains(needle) =>
        s"$p (${java.util.regex.Pattern.quote(needle).r
          .findAllMatchIn(text).size}x)"
    }
    val builders = filesWith("SparkSession.builder(")
    assert(builders == Seq("src/main/scala/graft/Session.scala (1x)"),
      s"build sessions with graft.Session.local; builders found: $builders")
    val cpuReaders = filesWith("\"SPARK_GRAFT_CPUS\"")
    assert(cpuReaders == Seq("src/main/scala/graft/Session.scala (1x)"),
      s"read the core count through graft.Session.cpus; found: $cpuReaders")
    val deletes = srcs.flatMap { case (p, text) =>
      recursiveDelete.findAllMatchIn(text).map(m => s"$p: def ${m.group(1)}")
    }
    assert(deletes.isEmpty,
      s"use org.apache.hadoop.fs.FileUtil.fullyDelete; found: $deletes")
  }

  test("the recursive-delete scan has teeth: the old helper is flagged, " +
      "a plain directory listing is not") {
    val helper =
      """  private def deleteRecursively(f: java.io.File): Unit = {
        |    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
        |    f.delete(): Unit
        |  }
        |""".stripMargin
    assert(recursiveDelete.findFirstIn(helper).nonEmpty)
    val inline =
      """      def rm(f: java.io.File): Unit = {
        |        val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete(); ()
        |      }
        |""".stripMargin
    assert(recursiveDelete.findFirstIn(inline).nonEmpty)
    val listing =
      """  def sizes(dir: java.io.File): Seq[Long] = {
        |    Option(dir.listFiles()).getOrElse(Array.empty).map(_.length).toSeq
        |  }
        |""".stripMargin
    assert(recursiveDelete.findFirstIn(listing).isEmpty)
  }

  /** The DML quartet's shared plumbing, which MERGE once carried a copy
    * of: the parser's command leaf, the temp-view target guard (matched
    * in a string literal, so the scaladoc that explains it does not
    * count) and MERGE's own SQL entry point. */
  private val commandLeaf = """\bextends LeafRunnableCommand\b""".r
  private val targetGuard = """"[^"\n]*\bmust be a session-local\b""".r
  private val mergeSqlDef = """\bdef mergeSql\b""".r

  /** A line naming where the copies are when `srcs` hold other than
    * `want` matches of `re` in total. */
  private def copies(srcs: Seq[(String, String)], re: Regex, want: Int,
      what: String): Option[String] = {
    val found = srcs.map { case (p, text) => p -> re.findAllMatchIn(text).size }
      .filter(_._2 > 0)
    if (found.map(_._2).sum == want) None
    else Some(s"$what: want $want, found " +
      found.map { case (p, n) => s"$p (${n}x)" }.mkString("[", ", ", "]"))
  }

  /** One line per DML plumbing rule that `srcs` break, naming where the
    * copies are. */
  private def dmlPlumbingCopies(srcs: Seq[(String, String)]): Seq[String] = {
    def rule(re: Regex, want: Int, what: String) = copies(srcs, re, want, what)
    Seq(
      rule(commandLeaf, 1, "classes extending LeafRunnableCommand " +
        "(GraftDmlViewCommand carries every DML verb)"),
      rule(targetGuard, 1, "temp-view target guards (DmlViews.run)"),
      rule(mergeSqlDef, 0, "MERGE-only entry points (use DmlViews.sql)")
    ).flatten
  }

  test("src/main/scala has one DML command leaf, one temp-view target " +
      "guard and no MERGE-only entry point") {
    val found = dmlPlumbingCopies(mainSources.map { case (p, text) =>
      p.toString -> text })
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("the DML plumbing scan has teeth: MERGE's own command, guard and " +
      "entry point beside the shared ones are flagged; one copy each, " +
      "with the guard explained in a comment, is not") {
    val shared = "DmlViews.scala" ->
      """  * SCOPE: the TARGET must be a session-local temp view — enforced
        |  def run(s: SparkSession, plan: LogicalPlan): String = {
        |      throw new IllegalArgumentException(
        |        s"DML target ${parts.mkString(".")} must be a session-local " +
        |final case class GraftDmlViewCommand(statement: LogicalPlan)
        |    extends LeafRunnableCommand {
        |""".stripMargin
    assert(dmlPlumbingCopies(Seq(shared)).isEmpty)
    val mergeCopy = "MergeIntoViews.scala" ->
      """  def mergeSql(s: SparkSession, sqlText: String): DataFrame = {
        |      throw new IllegalArgumentException(
        |        s"MERGE target ${parts.mkString(".")} must be a session-local " +
        |final case class GraftMergeIntoViewCommand(merge: MergeIntoTable)
        |    extends LeafRunnableCommand {
        |""".stripMargin
    val found = dmlPlumbingCopies(Seq(shared, mergeCopy))
    assert(found.size == 3, found.mkString("\n"))
    assert(found.forall(_.contains("MergeIntoViews.scala (1x)")),
      found.mkString("\n"))
  }

  /** The customer–supplier graph's constructions, each of which
    * [[graft.ops.Graph]] holds once: the edge base's supplier-id offset
    * in Spark and in DuckDB, and the reversed orientation of the
    * undirected form in each. */
  private val graphConstructions = Seq(
    "+ col(\"l_suppkey\")" -> "Spark edge bases (Graph.edgeBase)",
    "+ l_suppkey AS dst" -> "DuckDB edge bases (Graph.dEdgeBase)",
    "col(\"dst\").as(\"src\"), col(\"src\").as(\"dst\")" ->
      "Spark undirected forms (Graph.undirected)",
    "SELECT dst, src FROM e0" -> "DuckDB undirected forms (Graph.dUndirected)")

  private def graphCopies(srcs: Seq[(String, String)]): Seq[String] =
    graphConstructions.flatMap { case (needle, what) =>
      copies(srcs, Regex.quote(needle).r, 1, what) }

  test("src/main/scala builds the customer–supplier graph once: one " +
      "edge base and one undirected form, in Spark and in DuckDB") {
    val found = graphCopies(mainSources.map { case (p, text) =>
      p.toString -> text })
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("the graph scan has teeth: a query that builds its own edge base " +
      "and undirected form beside the shared ones is flagged") {
    val shared = "Graph.scala" ->
      """        (lit(SupplierOffset) + col("l_suppkey")).as("dst"))
        |      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
        |      |    $SupplierOffset + l_suppkey AS dst
        |      |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0)
        |""".stripMargin
    assert(graphCopies(Seq(shared)).isEmpty)
    val copy = "Other.scala" ->
      """          (lit(1000000000L) + col("l_suppkey")).as("dst"))
        |        .union(edges0.select(col("dst").as("src"), col("src").as("dst")))
        |        |    1000000000 + l_suppkey AS dst
        |        |e AS (SELECT src, dst FROM e0 UNION ALL
        |        |  SELECT dst, src FROM e0),
        |""".stripMargin
    val found = graphCopies(Seq(shared, copy))
    assert(found.size == 4, found.mkString("\n"))
    assert(found.forall(_.contains("Other.scala (1x)")), found.mkString("\n"))
  }

  /** The near-duplicate family's shared relations and the ts_* family's
    * daily spine, each held once per engine: the shingle overlap, the
    * Jaccard truth, the confusion tally and its rates, the dup clusters
    * and the daily revenue in cents. */
  private val sharedRelations = Seq(
    "shiftleft(col(\"ia\"), 32)" ->
      "Spark shingle overlaps (TextSim.shingleOverlap)",
    "e0 AS (SELECT doc_id, unnest(sh) AS g FROM s)" ->
      "DuckDB shingle overlaps (TextSim.dShingleOverlap)",
    "(col(\"na\") + col(\"nb\") - col(\"inter\"))" ->
      "Spark Jaccard truths (TextSim.ngramJaccardOf)",
    "WHERE round(CAST(inter AS DOUBLE) /" ->
      "DuckDB Jaccard truths (TextSim.dJaccardTruth)",
    "sum(when(col(\"cin\").isNotNull, 1L)" ->
      "Spark confusion tallies (TextSim.confusion)",
    "FULL OUTER JOIN truth t ON p.ia = t.ia" ->
      "DuckDB confusion tallies (TextSim.dMinhashEval)",
    "(col(\"n_cand\") - col(\"tp\")).as(\"fp\")" ->
      "Spark precision/recall columns (TextSim.rates)",
    "n_cand - tp AS fp" -> "DuckDB precision/recall columns (TextSim.dRates)",
    "col(\"ia\").as(\"src\"), col(\"ib\").as(\"dst\")" ->
      "Spark dup clusters (Graph.dupClusters)",
    "JOIN edges e ON w.r = e.src" -> "DuckDB dup clusters (Graph.dDupClusters)",
    "floor(col(\"rev\").cast(\"double\") * 100 + 0.5)" ->
      "Spark daily-cents spines (Relational.dailyCents)",
    "SELECT CAST(l_shipdate AS DATE) AS day," ->
      "DuckDB daily-cents spines (Relational.dDailyCents)",
    "-1.0 + 2.5 * least(" -> "DuckDB classifier weights (TextSim.dClassifierZ)")

  private def sharedRelationCopies(srcs: Seq[(String, String)]): Seq[String] =
    sharedRelations.flatMap { case (needle, what) =>
      copies(srcs, Regex.quote(needle).r, 1, what) }

  test("src/main/scala defines the near-dup family's overlap, truth, " +
      "tally and clusters and the ts_* daily spine once per engine") {
    val found = sharedRelationCopies(mainSources.map { case (p, text) =>
      p.toString -> text })
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("the shared-relation scan has teeth: a query that spells its own " +
      "copy of each beside the shared ones is flagged") {
    val shared = "TextSim.scala" -> sharedRelations.map(_._1).mkString("\n")
    assert(sharedRelationCopies(Seq(shared)).isEmpty)
    val copy = "Other.scala" ->
      """      .select((shiftleft(col("ia"), 32).bitwiseOR(col("ib"))).as("pk"))
        |        |e0 AS (SELECT doc_id, unnest(sh) AS g FROM s),
        |        (col("na") + col("nb") - col("inter")), 6))
        |        |  WHERE round(CAST(inter AS DOUBLE) /
        |          sum(when(col("cin").isNotNull, 1L).otherwise(0L)).as("n_cand"),
        |        |  FULL OUTER JOIN truth t ON p.ia = t.ia AND p.ib = t.ib),
        |          (col("n_cand") - col("tp")).as("fp"),
        |        |SELECT n_cand, n_truth, tp, n_cand - tp AS fp, n_truth - tp AS fn,
        |        .select(col("ia").as("src"), col("ib").as("dst"))
        |        |  JOIN edges e ON w.r = e.src),
        |          floor(col("rev").cast("double") * 100 + 0.5).cast("long").as("c"))
        |        |  SELECT CAST(l_shipdate AS DATE) AS day,
        |        |    -1.0 + 2.5 * least(n_tok / 100.0, 1.0) + 3.0 * stop_r -
        |""".stripMargin
    val found = sharedRelationCopies(Seq(shared, copy))
    assert(found.size == sharedRelations.size, found.mkString("\n"))
    assert(found.forall(_.contains("Other.scala (1x)")), found.mkString("\n"))
  }

  /** Repeated windows the clone scan may still find in src/main/scala.
    * Each fold lowers it (the scan found 105 before the twin-query
    * folds). What stays, and why:
    *  - 5: sql_ctas's Spark SQL text and its own DuckDB oracle spell one
    *    pivot SELECT — an operator never shares text with its oracle. */
  private val CloneCeiling = 5

  /** Lines per clone-scan window. */
  private val CloneWindow = 6

  /** A trimmed line that opens with a comment marker. */
  private def isComment(t: String): Boolean =
    t.startsWith("//") || t.startsWith("/*") || t.startsWith("*")

  /** A line as the clone scan sees it: whitespace runs collapsed;
    * blank, comment and import lines drop out. */
  private def scanned(line: String): Option[String] = {
    val t = line.trim.split("\\s+").mkString(" ")
    val skip = t.isEmpty || isComment(t) || t.startsWith("import ")
    if (skip) None else Some(t)
  }

  /** The one file allowed to checkpoint or persist: it holds `cut`,
    * `materialize` and `reuse`, the reuse policy for intermediate
    * frames. */
  private val ReuseHome = "src/main/scala/graft/ops/package.scala"

  /** Calls that choose a frame's reuse policy by hand. */
  private val rawReuse = Seq(
    ".localCheckpoint(" -> "localCheckpoint calls (use cut or materialize)",
    ".persist(" -> "persist calls (use reuse)",
    "StorageLevel" -> "StorageLevel references (use reuse)")

  /** One line per needle of `needles` found outside `home` on a
    * non-comment line of `srcs`, with its count and `path:line` sites. */
  private def rawCalls(home: String, needles: Seq[(String, String)])(
      srcs: Seq[(String, String)]): Seq[String] =
    needles.flatMap { case (needle, what) =>
      val sites = srcs.filter(_._1 != home).flatMap { case (p, text) =>
        text.split("\n", -1).toSeq.zipWithIndex.collect {
          case (l, i) if !isComment(l.trim) && l.contains(needle) =>
            s"$p:${i + 1}"
        }
      }
      if (sites.isEmpty) None
      else Some(s"${sites.size} $what: ${sites.mkString(", ")}")
    }

  private def rawReuseCalls(srcs: Seq[(String, String)]): Seq[String] =
    rawCalls(ReuseHome, rawReuse)(srcs)

  test("src/main/scala sets every frame's reuse policy through cut, " +
      "materialize or reuse: no raw localCheckpoint, persist or " +
      "StorageLevel outside ops/package.scala") {
    val found = rawReuseCalls(mainSources.map { case (p, text) =>
      p.toString -> text })
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("the raw-reuse scan has teeth: a raw lazy checkpoint and a " +
      "persist are flagged, the same text in a comment or in the " +
      "helpers' home is not") {
    val helpers = ReuseHome ->
      """  def cut(df: DataFrame): DataFrame = df.localCheckpoint(false)
        |    df.persist(StorageLevel.MEMORY_AND_DISK)
        |""".stripMargin
    val commented = "Graph.scala" ->
      """    // was: val sym = undirected(edges).localCheckpoint(false)
        |    * a persist(...) keeps lineage; .persist(StorageLevel.DISK_ONLY)
        |    val sym = cut(undirected(edges))
        |""".stripMargin
    assert(rawReuseCalls(Seq(helpers, commented)).isEmpty)
    val raw = "Graph.scala" ->
      """    val sym = cut(undirected(edges))
        |    val lab = undirected(edges).localCheckpoint(false)
        |      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        |""".stripMargin
    assert(rawReuseCalls(Seq(helpers, raw)) === Seq(
      "1 localCheckpoint calls (use cut or materialize): Graph.scala:2",
      "1 persist calls (use reuse): Graph.scala:3",
      "1 StorageLevel references (use reuse): Graph.scala:3"))
  }

  /** The one file allowed to rename or move a file: it holds
    * `publishDir` and `publishFile`, the publish protocol of the
    * engine's durable stores. */
  private val PublishHome = "src/main/scala/graft/ops/PersistedStore.scala"

  /** Calls that publish a file or directory by hand. */
  private val rawPublish = Seq(
    "renameTo(" -> "renameTo calls (use PersistedStore.publishDir)",
    "Files.move(" -> "Files.move calls (use PersistedStore.publishFile)",
    "ATOMIC_MOVE" ->
      "ATOMIC_MOVE references (use PersistedStore.publishFile)")

  private def rawPublishCalls(srcs: Seq[(String, String)]): Seq[String] =
    rawCalls(PublishHome, rawPublish)(srcs)

  test("src/main/scala publishes every durable store through " +
      "PersistedStore: no raw renameTo, Files.move or ATOMIC_MOVE " +
      "outside ops/PersistedStore.scala") {
    val found = rawPublishCalls(mainSources.map { case (p, text) =>
      p.toString -> text })
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("the raw-publish scan has teeth: a raw renameTo is flagged, the " +
      "same text in a comment or in the protocol's home is not") {
    val home = PublishHome -> "    if (!tmp.renameTo(dir)) throw e\n"
    val commented = "ModelGraph.scala" ->
      """    // was: if (!tmp.renameTo(dir)) throw e
        |    * a Files.move(tmp, out, ATOMIC_MOVE) publish
        |""".stripMargin
    assert(rawPublishCalls(Seq(home, commented)).isEmpty)
    val raw = "ModelGraph.scala" ->
      """    val ok = publishDir(spark, dir)(build)
        |    if (!tmp.renameTo(dir)) throw e
        |""".stripMargin
    assert(rawPublishCalls(Seq(home, raw)) === Seq(
      "1 renameTo calls (use PersistedStore.publishDir): ModelGraph.scala:2"))
  }

  /** Each window of [[CloneWindow]] scanned lines that starts more than
    * once in `srcs` (path, text), as its `path:line` starts. */
  private def repeatedWindows(srcs: Seq[(String, String)]): Seq[Seq[String]] =
    srcs.flatMap { case (p, text) =>
      val lines = text.split("\n", -1).toSeq.zipWithIndex
        .flatMap { case (l, i) => scanned(l).map(i + 1 -> _) }
      lines.sliding(CloneWindow).filter(_.size == CloneWindow)
        .map(w => w.map(_._2).mkString("\n") -> s"$p:${w.head._1}")
    }.groupMap(_._1)(_._2).values.filter(_.size > 1).toSeq.sortBy(_.head)

  test("src/main/scala repeats no more 6-line windows than the clone " +
      "ceiling allows") {
    val found = repeatedWindows(mainSources.map { case (p, text) =>
      p.toString -> text })
    val where = found.map(_.mkString("  ", ", ", "")).mkString("\n")
    assert(found.size <= CloneCeiling,
      s"${found.size} repeated windows, ceiling $CloneCeiling — define " +
        s"the copied relation once and reference it; repeats at:\n$where")
    assert(found.size == CloneCeiling,
      s"only ${found.size} repeated windows now: lower CloneCeiling to " +
        s"${found.size} (and drop the reasons that no longer hold)")
  }

  test("the clone scan has teeth: one copied 6-line block across a " +
      "source pair is one repeated window; comments, imports and " +
      "indentation do not hide it") {
    val block = Seq("val a = x.select(col(\"k\"))", ".groupBy(\"k\")",
      ".agg(count(lit(1)).as(\"n\"))", ".filter(col(\"n\") > 1)",
      ".orderBy(\"k\")", ".limit(20)")
    val one = "One.scala" -> ("import x.y\n" +
      block.mkString("\n") + "\nval b = 1\n")
    val other = "Other.scala" -> ("val c = 2\n// a comment\n" +
      block.map("      " + _).mkString("\n\n") + "\nval d = 3\n")
    assert(repeatedWindows(Seq(one)).isEmpty)
    assert(repeatedWindows(Seq(one, other)) ===
      Seq(Seq("One.scala:2", "Other.scala:3")))
    val edited = "Other.scala" -> other._2.replace(".limit(20)", ".limit(5)")
    assert(repeatedWindows(Seq(one, edited)).isEmpty)
  }

  /** Keys whose oracle text equals another key's but was built
    * separately (equal, not the same instance), and keys that hold
    * null — a twin read from an object still initializing. */
  private def oracleCopies(oracles: Map[String, String]): Seq[String] = {
    val nulls = oracles.collect { case (k, null) => s"$k: null" }
    val copies = oracles.toSeq.filter(_._2 != null).groupBy(_._2).values
      .flatMap { keyed =>
        val first = keyed.minBy(_._1)._2
        keyed.collect { case (k, v) if !(v eq first) => k }
      }
      .map(k => s"$k: equal to another key's text but built separately")
    (nulls ++ copies).toSeq.sorted
  }

  test("every oracle text that two keys share is one instance: a twin " +
      "references its sibling's text instead of spelling it again") {
    val found = oracleCopies(SparkEntry.oracleSql)
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("the oracle-copy gate has teeth: two separately built equal " +
      "texts are flagged, one text under two keys is not") {
    val sql = "SELECT 1 AS x"
    val shared = Map("a" -> sql, "b" -> sql, "c" -> "SELECT 2 AS x")
    assert(oracleCopies(shared).isEmpty)
    val built = Map("a" -> sql,
      "b" -> new StringBuilder("SELECT 1").append(" AS x").toString)
    assert(built("a") == built("b") && !(built("a") eq built("b")))
    assert(oracleCopies(built) ===
      Seq("b: equal to another key's text but built separately"))
    assert(oracleCopies(Map("a" -> sql, "b" -> null)) === Seq("b: null"))
  }

  /** `graft.<Name>` references in the run instructions: every script,
    * README's "Running" block and the verify skill notes. */
  private def namedMains: Seq[(String, String)] = {
    val scripts = {
      val s = Files.list(Paths.get("scripts"))
      try s.iterator().asScala.filter(_.toString.endsWith(".sh")).toSeq
      finally s.close()
    }
    val readme = Files.readString(Paths.get("README.md"))
    val running = readme.split("\n## Running\n", 2).lift(1)
      .map(_.split("```").lift(1).getOrElse("")).getOrElse("")
    assert(running.contains("graft."), "README.md lost its Running block")
    val skill = Paths.get(".claude/skills/verify/SKILL.md")
    val docs = scripts.sortBy(_.toString).map(p =>
      p.toString -> Files.readString(p)) ++
      Seq("README.md#Running" -> running) ++
      (if (Files.exists(skill)) Seq(skill.toString -> Files.readString(skill))
       else Nil)
    docs.flatMap { case (where, text) =>
      // `graft.Session.local` names a method, not a main
      """\bgraft\.([A-Z]\w*)(?![.\w])""".r.findAllMatchIn(text)
        .map(m => where -> m.group(1))
    }.distinct
  }

  private def isMain(name: String): Boolean =
    try {
      Class.forName(s"graft.$name", false, getClass.getClassLoader)
        .getMethod("main", classOf[Array[String]])
      true
    } catch {
      case _: ClassNotFoundException | _: NoSuchMethodException => false
    }

  test("every graft.<Main> that a script, README's Running block or the " +
      "verify skill names exists as an object with a main") {
    val refs = namedMains
    assert(refs.exists(_._2 == "Bench") && refs.exists(_._2 == "Verify"),
      s"scan found too little to be meaningful: $refs")
    val stale = refs.filterNot { case (_, n) => isMain(n) }
      .map { case (where, n) => s"$where: graft.$n" }
    assert(stale.isEmpty, s"references to mains that no longer exist: $stale")
    assert(!isMain("StoreBuild"), "control broken: a deleted main resolves")
  }
}
