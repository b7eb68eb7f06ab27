package graft

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One session factory: every local entry point builds its SparkSession
  * through [[Session.builder]], so the session Verify checks is the one
  * Bench times and the one the specs run on. The probe entry points only
  * name registered queries, and every `src/main` declaration is reached
  * from an entry point or allowlisted with a reason. */
class SessionSpec extends SparkSpec {

  private val root = Paths.get("src/main/scala")

  private def scalaFiles(dir: Path): List[Path] = Files.walk(dir).iterator.asScala
    .filter(_.toString.endsWith(".scala")).toList

  /** Source lines of `p` that are not comment lines, with their 1-based
    * line numbers. */
  private def numberedCode(p: Path): Seq[(String, Int)] =
    Files.readAllLines(p).asScala.toSeq.zipWithIndex.map { case (l, i) => (l, i + 1) }
      .filterNot { case (l, _) =>
        val t = l.trim
        t.startsWith("*") || t.startsWith("//") || t.startsWith("/*")
      }

  /** Source lines of `p` that are not comment lines. */
  private def code(p: Path): Seq[String] = numberedCode(p).map(_._1)

  test("only Session and the spark-submit job main call SparkSession.builder() in src/main") {
    val allowed = Set(root.resolve("graft/Session.scala"),
      root.resolve("graft/jobs/Jobs.scala"))
    val builderCall = """SparkSession\s*\.\s*builder\s*\(""".r
    val files = scalaFiles(root)
    val offenders = files.filterNot(allowed.contains)
      .filter(p => code(p).exists(builderCall.findFirstIn(_).isDefined))
    assert(files.size > 50, s"src/main/scala not found from ${Paths.get("").toAbsolutePath}")
    assert(offenders.isEmpty, offenders.mkString("build through graft.Session: ", ", ", ""))
  }

  /** `.parquet("…/<table>.parquet")` calls in `text` whose chain starts
    * with `read` (or `readStream`), for every table of `Tables.names`. */
  private def directTableReads(text: String): Seq[String] = {
    val call = ("""\.parquet\(\s*s?"[^"]*/(?:""" + Tables.names.mkString("|") +
      """)\.parquet\b""").r
    val chainHead = """\.(read|write)(?:Stream)?\b""".r
    call.findAllMatchIn(text).filter { m =>
      chainHead.findAllMatchIn(text.substring(0, m.start)).toSeq.lastOption
        .exists(_.group(1) == "read")
    }.map(_.matched).toSeq
  }

  test("src/main reads a Tables.names table only through Tables.load") {
    // the scan itself: a read chain split over lines is caught, a write is not
    assert(directTableReads("spark.read\n  .parquet(s\"$dir/customer.parquet\")").size == 1)
    assert(directTableReads("df.write.mode(\"overwrite\").parquet(s\"$dir/customer.parquet\")").isEmpty)
    val offenders = scalaFiles(root).filterNot(_ == root.resolve("graft/Tables.scala"))
      .flatMap(p => directTableReads(code(p).mkString("\n")).map(m => s"${root.relativize(p)}: $m"))
    assert(offenders.isEmpty,
      offenders.mkString("read through Tables.load, which remembers each schema: ", ", ", ""))
  }

  test("the jobs write the invalid-record split once: one splitInvalid, one observeEgress") {
    val jobs = scalaFiles(root.resolve("graft/jobs")).flatMap(code)
    assert(jobs.nonEmpty, s"src/main/scala/graft/jobs not found from ${Paths.get("").toAbsolutePath}")
    for (call <- Seq("HttpSink.splitInvalid(", "HttpSink.observeEgress(")) {
      val n = jobs.map(_.sliding(call.length).count(_ == call)).sum
      assert(n == 1, s"$call appears $n times in graft/jobs: build it in UserProfileJob.withPrepared")
    }
  }

  /** A top-level type (column 0) of a `src/main` file, or one of its
    * direct members (column 2), with the code lines of its body; a type
    * also sees its file's package and import lines. */
  private final class Decl(val file: Path, val owner: Option[Decl],
                           val imports: collection.Seq[String],
                           val mods: String, val kind: String, val name: String) {
    val body = mutable.ListBuffer.empty[String]
    val members = mutable.ListBuffer.empty[Decl]
    def isPrivate: Boolean = mods.contains("private") || owner.exists(_.isPrivate)
    def key: String = {
      val graft = root.resolve("graft")
      val rel = if (file.startsWith(graft)) graft.relativize(file) else root.relativize(file)
      s"$rel#${owner.fold(name)(o => s"${o.name}.$name")}"
    }
  }

  private val declLine = ("""^( {0,2})(?:@\w+(?:\([^)]*\))?\s+)*((?:(?:private|protected)""" +
    """(?:\[\w+\])?\s+|(?:override|implicit|final|sealed|abstract|case|lazy)\s+)*)""" +
    """(def|val|var|object|class|trait)\s+(\w+)""").r

  /** The top-level types of `p`. A type's body is every line outside its
    * members; a member's body runs to the next line at column ≤ 2 that
    * does not close it. Lines inside a triple-quoted string continue the
    * declaration they sit in. */
  private def decls(p: Path): Seq[Decl] = {
    val imports = mutable.ListBuffer.empty[String]
    val tops = mutable.ListBuffer.empty[Decl]
    var member: Option[Decl] = None
    var inString = false
    for (l <- code(p) if l.trim.nonEmpty) {
      val continued = inString
      if ("\"\"\"".r.findAllIn(l).size % 2 == 1) inString = !inString
      val indent = l.takeWhile(_ == ' ').length
      val closing = l.trim.startsWith("}") || l.trim.startsWith(")")
      def current = member.orElse(tops.lastOption)
      declLine.findFirstMatchIn(l) match {
        case _ if continued => current.fold(imports)(_.body) += l
        case Some(m) if indent == 0 =>
          val t = new Decl(p, None, imports, m.group(2), m.group(3), m.group(4))
          t.body += l; tops += t; member = None
        case _ if indent == 0 && (l.startsWith("package") || l.startsWith("import")) => imports += l
        case Some(m) if indent == 2 && tops.nonEmpty =>
          val d = new Decl(p, tops.lastOption, Nil, m.group(2), m.group(3), m.group(4))
          d.body += l; tops.last.members += d; member = Some(d)
        case _ if indent <= 2 && !closing => member = None; current.fold(imports)(_.body) += l
        case _ => current.fold(imports)(_.body) += l
      }
    }
    tops.toList
  }

  /** `lines` with the text of their string literals blanked, so a name
    * inside a message is not a reference. The code of an interpolation
    * (`$name`, `${…}`) stays, and so do trailing `//` comments and the
    * `'"'` char literal. Line breaks are kept. */
  private def blankStrings(lines: Seq[String]): Seq[String] = {
    val s = lines.mkString("\n")
    val out = new StringBuilder(s.length)
    var i = 0
    def at(t: String): Boolean = s.startsWith(t, i)
    def copy(n: Int): Unit = { out ++= s.substring(i, i + n); i += n }
    def blank(): Unit = { out += (if (s(i) == '\n') '\n' else ' '); i += 1 }
    // code up to the `}` that closes an interpolation (when `nested`)
    def code(nested: Boolean): Unit = {
      var depth = 0
      while (i < s.length && !(nested && depth == 0 && s(i) == '}')) {
        if (at("//")) copy(s.indexOf('\n', i) match { case -1 => s.length - i; case e => e - i })
        else if (at("'\"'")) copy(3)
        else if (s(i) == '"') literal(i > 0 && (s(i - 1).isLetterOrDigit || s(i - 1) == '_'))
        else {
          if (s(i) == '{') depth += 1 else if (s(i) == '}') depth -= 1
          copy(1)
        }
      }
    }
    def literal(interpolated: Boolean): Unit = {
      val triple = at("\"\"\"")
      copy(if (triple) 3 else 1)
      def closed: Boolean =
        if (triple) at("\"\"\"") && !s.startsWith("\"\"\"\"", i) else at("\"") || at("\n")
      while (i < s.length && !closed) {
        if (interpolated && at("${")) { copy(2); code(nested = true); if (i < s.length) copy(1) }
        else if (interpolated && at("$$")) { blank(); blank() }
        else if (interpolated && at("$") && i + 1 < s.length && Character.isJavaIdentifierStart(s(i + 1))) {
          copy(1); while (i < s.length && Character.isJavaIdentifierPart(s(i))) copy(1)
        }
        else if (!triple && at("\\") && i + 1 < s.length) { blank(); blank() }
        else blank()
      }
      if (i < s.length && s(i) == '"') copy(if (triple) 3 else 1)
    }
    code(nested = false)
    out.toString.split("\n", -1).toSeq
  }

  test("every src/main declaration is reached from an entry point or allowlisted with a reason") {
    // roots: the mains, the query registry, the jobs, the session
    // extensions, and the benchmark harness that compiles against src/main
    val tops = scalaFiles(root).flatMap(decls)
    val perfbench = scalaFiles(Paths.get("perfbench/src"))
    def isRoot(t: Decl): Boolean =
      t.file.startsWith(root.resolve("graft/jobs")) ||
        t.file == root.resolve("graft/SparkEntry.scala") || t.name == "GraftExtensions" ||
        t.members.exists(m => m.kind == "def" && m.name == "main")
    assert(tops.count(isRoot) >= 6 && perfbench.nonEmpty,
      s"roots not found from ${Paths.get("").toAbsolutePath}")

    // fixed point over simple names: a declaration is reached when its name
    // appears in reached code outside a string literal; a member also
    // needs its type reached, and an
    // override or implicit member is reached with its type
    val ident = """[A-Za-z_]\w*""".r
    val names = mutable.Set.empty[String]
    def see(lines: Seq[String]): Unit =
      blankStrings(lines).foreach(names ++= ident.findAllIn(_))
    perfbench.foreach(p => see(code(p)))
    val reached = mutable.Set.empty[Decl]
    var grew = true
    while (grew) {
      grew = false
      for (t <- tops if isRoot(t) || names(t.name)) {
        if (reached.add(t)) { see(t.imports.toList); see(t.body.toList); grew = true }
        for (m <- t.members if isRoot(t) || names(m.name) ||
            m.mods.contains("override") || m.mods.contains("implicit"))
          if (reached.add(m)) { see(m.body.toList); grew = true }
      }
    }
    val unreached = tops.flatMap(t => t +: t.members)
      .filterNot(d => reached(d) || d.isPrivate).map(_.key).distinct

    val allowFile = Paths.get("tools/reachability_allowlist.txt")
    val entries = Files.readAllLines(allowFile).asScala.toSeq
      .filterNot(l => l.trim.isEmpty || l.startsWith("#"))
    val (reasoned, bare) = entries.partition(_.trim.split("\\s+", 2).length == 2)
    assert(bare.isEmpty, bare.mkString(s"$allowFile entries without a reason: ", ", ", ""))
    val allowed = reasoned.map(_.trim.split("\\s+", 2).head)
    // multiset differences: a second line for one name is stale too
    val stale = allowed.diff(unreached)
    assert(stale.isEmpty, stale.mkString(
      s"$allowFile names what is now reached or gone; delete the line: ", ", ", ""))
    val dead = unreached.diff(allowed)
    assert(dead.isEmpty, dead.mkString("reached by no main, SparkEntry query, job, " +
      s"GraftExtensions or perfbench: delete it, or add `<path>#<name>  <reason>` to $allowFile: ",
      ", ", ""))
  }

  test("no 10 consecutive code lines appear at two places in src/main") {
    // one definition per decision: a copied block is a policy that a fix
    // to one copy misses; call the helper that owns it instead. Lines
    // compare trimmed with whitespace collapsed, blanks and comments
    // dropped. OracleSql is exempt: each oracle is self-contained SQL.
    val n = 10
    val first = mutable.Map.empty[Seq[String], (Path, Int, Int)]
    val clones = mutable.ListBuffer.empty[String]
    val files = scalaFiles(root).sorted
      .filterNot(_.getFileName.toString == "OracleSql.scala")
    assert(files.size > 50, s"src/main/scala not found from ${Paths.get("").toAbsolutePath}")
    for (p <- files) {
      val lines = numberedCode(p)
        .map { case (l, no) => (l.trim.split("\\s+").mkString(" "), no) }
        .filter(_._1.nonEmpty)
      // the partner of the previous window: a clone longer than n lines
      // is reported once, at its first window
      var prev: Option[(Path, Int)] = None
      for ((w, i) <- lines.sliding(n).zipWithIndex if w.size == n) {
        val key = w.map(_._1)
        prev = first.get(key) match {
          case Some((q, j, no)) =>
            if (!prev.contains((q, j - 1)))
              clones += s"${root.relativize(q)}:$no and ${root.relativize(p)}:${w.head._2}"
            Some((q, j))
          case None =>
            first(key) = (p, i, w.head._2)
            None
        }
      }
    }
    assert(clones.isEmpty, clones.mkString(
      s"$n-line blocks copied in src/main (move each behind one helper): ", "; ", ""))
  }

  test("the shared test session carries the factory's settings") {
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "5000")
    assert(spark.sparkContext.master == "local[4]")
  }

  test("every ScaleProbe query is a registered SparkEntry query") {
    val missing = ScaleProbe.Queries.filterNot(SparkEntry.queries.contains)
    assert(ScaleProbe.Queries.nonEmpty)
    assert(missing.isEmpty, missing.mkString("not in SparkEntry.queries: ", ", ", ""))
  }
}
