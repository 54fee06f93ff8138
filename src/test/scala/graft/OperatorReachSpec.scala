package graft

import java.io.File
import scala.collection.mutable
import scala.io.Source
import org.scalatest.funsuite.AnyFunSuite

/** Every member of the library objects under `ops/`, `streaming/`,
  * `etl/` and `plans/` earns its place: it is reached from a root, or
  * it carries an allowlist entry whose reason this spec re-checks.
  *
  * The roots are the rest of `src/main` (the declared queries,
  * `EntrySupport`, `Tables`, the mains) and `perfbench/src`. Reach is
  * derived by name from the source text, with comments and string
  * literals blanked: `Obj.name` reaches that member of a library object,
  * an unqualified name inside an object reaches that object's own member,
  * and a reached member's body reaches what it names in turn. A name
  * shared with another identifier counts as a call, so the reached set is
  * an over-approximation and an unreached member is certainly unreached.
  * The spec reads only source files and starts no Spark job.
  *
  * The allowlist holds only members that are kept without being
  * reached; what an entry's member names is kept with it. The reasons:
  *  - [[OperatorReachSpec.Composition]]: a one-line composition of a
  *    reached `…From` form;
  *  - [[OperatorReachSpec.StreamingTwin]]: a streaming twin that a spec
  *    row pins equal to a kept batch operator over the same rows;
  *  - [[OperatorReachSpec.Reference]]: a reference implementation that a
  *    spec row compares a reached operator against;
  *  - [[OperatorReachSpec.Surface]]: the reference's own surface, a fixed
  *    set of two.
  * A stale entry fails too: its member is gone or now reached, or the
  * spec row its reason names does not exist.
  */
class OperatorReachSpec extends AnyFunSuite {
  import OperatorReachSpec._

  private lazy val lib = Library.load()
  private lazy val rows = SpecRow.loadAll()

  test("every public library member is reached from a root or allowlisted") {
    val missing = lib.members.filter(m => !m.isPrivate && !lib.kept(m.qn))
    if (missing.nonEmpty) fail(
      "public members that no root reaches and no allowlist entry keeps " +
        "(give each a caller in a declared query or perfbench, add an " +
        "allowlist entry with its reason, or delete it):\n" +
        missing.map(m => s"  ${m.qn} (${m.file})").mkString("\n"))
  }

  test("no private library helper is left without a kept caller") {
    val dead = lib.members.filter(m => m.isPrivate && !lib.kept(m.qn))
    if (dead.nonEmpty) fail(
      "private members reached by no kept member (delete them):\n" +
        dead.map(m => s"  ${m.qn} (${m.file})").mkString("\n"))
  }

  test("every allowlist entry names a live, unreached member whose reason holds") {
    val problems = allowlist.toSeq.sortBy(_._1).flatMap { case (qn, reason) =>
      lib.byQn.get(qn) match {
        case None => Seq(s"$qn: no such member (the entry is stale)")
        case Some(_) if lib.reached(qn) =>
          Seq(s"$qn: reached from a root (the entry is stale)")
        case Some(ms) => reason.problems(qn, ms, lib, rows).map(p => s"$qn: $p")
      }
    }
    if (problems.nonEmpty) fail(problems.mkString("\n"))
  }
}

object OperatorReachSpec {

  /** Why a member that no root reaches is kept. */
  sealed trait Reason {
    def problems(qn: String, ms: Seq[Member], lib: Library, rows: Seq[SpecRow]): Seq[String]
  }

  /** (b) A one-line composition of a reached `…From` form: a `def` whose
    * body is at most three code lines, names a reached member whose name
    * holds `From`, and names no library member that is neither reached
    * nor itself such a composition.
    */
  case object Composition extends Reason {
    def problems(qn: String, ms: Seq[Member], lib: Library, rows: Seq[SpecRow]): Seq[String] =
      ms.flatMap { m =>
        val named = lib.refs(m.owner, m.defBody).filter(lib.byQn.contains) - qn
        Seq(
          if (m.kind != "def") Some(s"a composition must be a def, is a ${m.kind}") else None,
          if (codeLines(m.defBody) > 3)
            Some(s"body has ${codeLines(m.defBody)} code lines; a composition has at most 3")
          else None,
          if (!named.exists(r => lib.reached(r) && r.contains("From")))
            Some("names no reached `…From` form") else None,
          Some(named.filterNot(r => lib.reached(r) || allowlist.get(r).contains(Composition)))
            .filter(_.nonEmpty)
            .map(us => s"composes unreached members ${us.toSeq.sorted.mkString(", ")}")
        ).flatten
      }
  }

  /** (c) A streaming twin: the spec row `row` (a name prefix) of `spec`
    * runs the twin and asserts it equal to the kept batch operator
    * `batch` over the same rows.
    */
  final case class StreamingTwin(spec: String, row: String, batch: String) extends Reason {
    def problems(qn: String, ms: Seq[Member], lib: Library, rows: Seq[SpecRow]): Seq[String] =
      Seq(
        if (!qn.startsWith("Streaming")) Some("a streaming twin lives in graft.streaming") else None,
        if (!lib.reached(batch) && !allowlist.get(batch).contains(Composition))
          Some(s"its batch operator $batch is not kept") else None
      ).flatten ++ SpecRow.pin(rows, spec, row, Seq(qn, batch))
  }

  /** (d) A reference implementation: the spec row `row` (a name prefix)
    * of `spec` compares the operator `checks`, reached or a composition
    * of reached forms, against it.
    */
  final case class Reference(spec: String, row: String, checks: String) extends Reason {
    def problems(qn: String, ms: Seq[Member], lib: Library, rows: Seq[SpecRow]): Seq[String] =
      (if (lib.reached(checks) || allowlist.get(checks).contains(Composition)) Nil
       else Seq(s"the operator it checks, $checks, is not kept")) ++
        SpecRow.pin(rows, spec, row, Seq(qn, checks))
  }

  /** (e) The reference's own surface, at `cite` in the reference. */
  final case class Surface(cite: String) extends Reason {
    def problems(qn: String, ms: Seq[Member], lib: Library, rows: Seq[SpecRow]): Seq[String] =
      if (surface(qn)) Nil else Seq("only the two reference-surface members may give this reason")
  }

  /** The only members that may be kept as the reference's own surface. */
  val surface: Set[String] = Set("Sinks.postgresOnConflictDialect", "StreamingIncremental.start")

  val allowlist: Map[String, Reason] = Map(
    // (b) the corpus forms of the store-fed dedup operators
    "Dedup.ngramJaccardPairs" -> Composition,
    "Dedup.minhashLshCandidates" -> Composition,
    "Dedup.minhashJaccardEstimates" -> Composition,
    "Dedup.verifiedNearDupPairs" -> Composition,
    "Dedup.lshDedupKeepers" -> Composition,
    "Dedup.connectedComponentKeepers" -> Composition,
    "Dedup.simhashClusters" -> Composition,
    "Dedup.simhashBandStats" -> Composition,
    "Dedup.ngramNovelty" -> Composition,
    "Dedup.minhashEstimatorAudit" -> Composition,
    // (b) the self-training forms of the model-fed vector operators
    "Sim.cosineTopKIvfKmeans" -> Composition,
    "Sim.cosineTopKIvfPq" -> Composition,
    "Sim.semanticDedupKeepers" -> Composition,
    "Sim.clusterPurity" -> Composition,
    // (b) the corpus forms of the bigram models and the retrieval store
    "Text.bigramLogProb" -> Composition,
    "Text.interpolatedLogProb" -> Composition,
    "Text.knBigramLogProb" -> Composition,
    "Text.tfidfTopTerms" -> Composition,
    "Text.tfidfCosineTopK" -> Composition,
    "Text.bm25TopK" -> Composition,
    "Text.hybridRrfTopK" -> Composition,
    // (c) streaming twins
    "StreamingAggregates.hllRegisters" -> StreamingTwin("StreamingAggSpec",
      "streaming HLL registers project to EXACTLY the batch estimate", "Sketches.hllDistinct"),
    "StreamingAggregates.cmsCounters" -> StreamingTwin("StreamingAggSpec",
      "streaming CMS counters project to EXACTLY the batch estimate", "Sketches.cmsHeavyHitters"),
    "StreamingAggregates.bloomBitsStream" -> StreamingTwin("StreamingAggSpec",
      "streaming Bloom bits project to EXACTLY the batch maybe_seen verdicts",
      "Sketches.bloomDedupFlags"),
    "StreamingAggregates.hdrBuckets" -> StreamingTwin("StreamingAggSpec",
      "streaming HDR buckets project to EXACTLY the batch quantiles", "Sketches.hdrQuantiles"),
    "StreamingAggregates.attribute" -> StreamingTwin("StreamingAggSpec",
      "streaming last-touch attribution matches the batch operator on one batch",
      "EventOps.lastTouchAttribution"),
    "StreamingAggregates.dsirHistogram" -> StreamingTwin("StreamingDsirSpec",
      "streamed histograms fold to the batch scorer's exact weights", "Text.dsirWeights"),
    "StreamingCorpus.canonicalFirstSeen" -> StreamingTwin("StreamingCrawlKeeperSpec",
      "streamed keeper verdicts ≡ batch keeper window", "Corpus.crawlGate"),
    "StreamingCorpus.incrementalDedup" -> StreamingTwin("StreamingIncrementalDedupSpec",
      "one-shot stream equals the batch operator verdict-for-verdict", "Dedup.incrementalNewDocs"),
    "StreamingCorpus.segmentFirstSeen" -> StreamingTwin("StreamingSegmentDedupSpec",
      "one-shot stream equals batch segmentDedup counts per doc", "Dedup.segmentDedup"),
    "StreamingCorpus.phashCandidates" -> StreamingTwin("StreamingMediaPhashSpec",
      "streamed verified pairs ≡ batch phashNearDupPairs", "Multimodal.phashNearDupPairs"),
    "StreamingCorpus.lshCandidates" -> StreamingTwin("StreamingCorpusSpec",
      "streaming LSH candidates over a static corpus equal the batch operator",
      "Dedup.minhashLshCandidates"),
    "StreamingCorpus.htmlExtractStream" -> StreamingTwin("HtmlExtractSpec",
      "streaming twin routes and extracts exactly like the batch operator", "Corpus.htmlExtract"),
    "StreamingCorpus.qualityVotesStream" -> StreamingTwin("QualityVotesSpec",
      "frozen-median form ≡ in-plan form", "Text.qualityVotesFrom"),
    "StreamingCorpus.spmEncodeStream" -> StreamingTwin("SpmSpec",
      "streaming encode twin ≡ batch under the frozen model", "Text.spmEncodeDocs"),
    "StreamingCorpus.webCorpusStreamCycle" -> StreamingTwin("WebCorpusStreamSpec",
      "streamed capstone verdicts ≡ batch increment verdicts", "Corpus.webCorpusIncrementFrom"),
    // the scope the capstone twin must start in; its pin runs it so
    "StreamingCorpus.withChainedStatefulGuardDisabled" -> StreamingTwin("WebCorpusStreamSpec",
      "streamed capstone verdicts ≡ batch increment verdicts", "Corpus.webCorpusIncrementFrom"),
    // (d) reference implementations
    "Corpus.webCorpusIndexClaims" -> Reference("RetentionSpec",
      "the one-pass day-column form ≡ the per-day form", "Corpus.webCorpusIndexClaimsWithDay"),
    "Text.bpeApply" -> Reference("BpeEncodeSpec",
      "agrees with the priority encoder on a learned merge list", "Text.bpeEncodeExpr"),
    "Text.spmViterbiLocalCounts" -> Reference("SpmSpec",
      "byte-fallback laws", "Text.spmSegmentFrame"),
    "Text.rrfFuse" -> Reference("HybridRrfSpec",
      "fused ranking equals the composed three-operator form", "Text.hybridRrfTopK"),
    "Text.qualityVotesMedians" -> Reference("QualityVotesSpec",
      "frozen-median form ≡ in-plan form", "Text.qualityVotes"),
    "Sim.cosineTopKIvf" -> Reference("QueryModelMemoSpec",
      "cosineTopKIvfFrom over the memoized first-nCells slice ≡ cosineTopKIvf",
      "Sim.cosineTopKIvfFrom"),
    // (e) the reference's own surface
    "Sinks.postgresOnConflictDialect" -> Surface("flask_server.py:193"),
    "StreamingIncremental.start" -> Surface("flask_server.py:82-229")
  )

  /** Code lines of a body: non-blank lines that hold more than a brace. */
  def codeLines(body: String): Int =
    body.split("\n").map(_.trim).count(l => l.nonEmpty && l != "{" && l != "}")

  /** One definition directly inside a library object (`owner` non-empty)
    * or at the top level of a library file (`owner` empty). `body` is its
    * source from its modifiers to the next definition at the same level.
    */
  final case class Member(owner: String, name: String, kind: String,
                          isPrivate: Boolean, body: String, file: String) {
    def qn: String = if (owner.isEmpty) name else s"$owner.$name"

    /** The body after the signature's `=`, or all of it if none. */
    def defBody: String = {
      val toks = Lexer.tokens(body)
      var depth = 0
      var i = 0
      var at = -1
      while (at < 0 && i < toks.size) {
        val t = toks(i)._2
        if ("([{".contains(t)) depth += 1
        else if (")]}".contains(t)) depth -= 1
        else if (depth == 0 && t == "=" &&
            !(i + 1 < toks.size && Set(">", "=")(toks(i + 1)._2))) at = toks(i)._1
        i += 1
      }
      if (at < 0) body else body.substring(at + 1)
    }
  }

  /** The library members and the reach closure over them. */
  final class Library(val members: Seq[Member], containers: Set[String], rootRefs: Set[String]) {
    val byQn: Map[String, Seq[Member]] = members.groupBy(_.qn)
    private val topClasses = members.filter(_.owner.isEmpty).map(_.name).toSet

    /** The members `text`, written inside `owner`, names. */
    def refs(owner: String, text: String): Set[String] = {
      val toks = Lexer.tokens(text)
      toks.indices.flatMap { k =>
        val t = toks(k)._2
        if (!Lexer.isIdent(t)) Nil
        else if (k >= 2 && toks(k - 1)._2 == ".") {
          val q = toks(k - 2)._2
          if (containers(q)) Seq(s"$q.$t") else Nil
        } else
          (if (owner.nonEmpty) Seq(s"$owner.$t") else Nil) ++
            (if (topClasses(t)) Seq(t) else Nil) ++
            (if (containers(t)) Seq(s"$t.apply") else Nil)
      }.filter(byQn.contains).toSet
    }

    private def closure(seeds: Set[String]): Set[String] = {
      val seen = mutable.Set.empty[String]
      val work = mutable.Stack.from(seeds)
      while (work.nonEmpty) {
        val qn = work.pop()
        if (byQn.contains(qn) && seen.add(qn))
          byQn(qn).foreach(m => work.pushAll(refs(m.owner, m.body)))
      }
      seen.toSet
    }

    /** Reached from a root. */
    val reached: Set[String] = closure(rootRefs)
    /** Reached from a root or from an allowlist entry. */
    val kept: Set[String] = closure(rootRefs ++ allowlist.keySet)
  }

  object Library {
    val mainDir = new File("src/main/scala/graft")
    val targetDirs: Seq[String] = Seq("ops", "streaming", "etl", "plans")

    def load(): Library = {
      val parsed = targetDirs.flatMap(d => Lexer.scalaFiles(new File(mainDir, d)))
        .map(f => parse(f, Lexer.strip(Lexer.read(f))))
      val containers = parsed.flatMap(_._2).toSet
      val roots = Lexer.scalaFiles(new File("src/main/scala"))
        .filterNot(f => targetDirs.exists(d =>
          f.getPath.startsWith(new File(mainDir, d).getPath + File.separator))) ++
        Lexer.scalaFiles(new File("perfbench/src"))
      val lib0 = new Library(parsed.flatMap(_._1), containers, Set.empty)
      new Library(lib0.members, containers,
        roots.flatMap(f => lib0.refs("", Lexer.strip(Lexer.read(f)))).toSet)
    }

    private val keywords = Set("def", "val", "var", "object", "class", "trait", "type")
    private val modifiers = Set("private", "protected", "final", "implicit",
      "override", "lazy", "sealed", "abstract", "case")

    /** The members of one stripped library file, and its object names. */
    def parse(file: File, text: String): (Seq[Member], Seq[String]) = {
      val toks = Lexer.tokens(text)
      val path = file.getPath.stripPrefix(mainDir.getPath + File.separator)
      // (owner, name, kind, private, start offset) of each definition
      val defs = mutable.ArrayBuffer.empty[(String, String, String, Boolean, Int)]
      val objects = mutable.ArrayBuffer.empty[(String, Int, Int)]
      var depth = 0
      var paren = 0
      var obj: Option[(String, Int)] = None
      for (i <- toks.indices) {
        val (pos, t) = toks(i)
        t match {
          case "(" | "[" => paren += 1
          case ")" | "]" => paren -= 1
          case "{" => depth += 1
          case "}" =>
            depth -= 1
            if (depth == 0) obj.foreach { case (n, s) => objects += ((n, s, pos)); obj = None }
          case kw if paren == 0 && keywords(kw) && i + 1 < toks.size &&
              Lexer.isIdent(toks(i + 1)._2) =>
            val name = toks(i + 1)._2
            // walk back over modifiers and `private[x]`
            var j = i - 1
            var start = pos
            var priv = false
            var more = true
            while (more && j >= 0) {
              val m = toks(j)._2
              if (modifiers(m)) {
                priv ||= m == "private" || m == "protected"
                start = toks(j)._1; j -= 1
              } else if (m == "]" && j >= 3 && toks(j - 2)._2 == "[" &&
                  Set("private", "protected")(toks(j - 3)._2)) {
                priv = true; start = toks(j - 3)._1; j -= 4
              } else more = false
            }
            if (depth == 0 && kw == "object") obj = Some((name, pos))
            else if (depth == 0 && (kw == "class" || kw == "trait"))
              defs += (("", name, kw, priv, start))
            else if (depth == 1 && obj.isDefined)
              defs += ((obj.get._1, name, kw, priv, start))
          case _ =>
        }
      }
      // a definition runs to the next definition at its level, or to the
      // end of its object; a top-level class to the next top-level one
      val ends = (defs.map(_._5) ++ objects.map(_._2)).sorted
      val members = defs.map { case (owner, name, kind, priv, start) =>
        val objEnd = objects.collectFirst { case (n, s, e) if n == owner && s < start => e }
        val next = ends.find(_ > start)
        val end = (next ++ objEnd).minOption.getOrElse(text.length)
        Member(owner, name, kind, priv, text.substring(start, end), path)
      }
      (members.toSeq, objects.map(_._1).toSeq)
    }
  }

  /** A `test(...)` or `property(...)` row of a spec file. */
  final case class SpecRow(spec: String, name: String, body: String, helpers: String)

  object SpecRow {
    private val start = """(?<![\w.])(test|property)\(""".r

    def loadAll(): Seq[SpecRow] =
      Lexer.scalaFiles(new File("src/test/scala/graft")).flatMap { f =>
        val raw = Lexer.read(f)
        val text = Lexer.strip(raw)
        val starts = start.findAllMatchIn(text).map(_.start).toVector
        val helpers = text.substring(0, starts.headOption.getOrElse(text.length))
        starts.zipWithIndex.map { case (s, k) =>
          val end = if (k + 1 < starts.size) starts(k + 1) else text.length
          SpecRow(f.getName.stripSuffix(".scala"), literalName(raw, raw.indexOf('(', s) + 1),
            text.substring(s, end), helpers)
        }
      }

    /** The concatenation of the string literals that open at `from`. */
    private def literalName(raw: String, from: Int): String = {
      val lit = """\s*(\+\s*)?"((?:[^"\\]|\\.)*)"""".r
      val sb = new StringBuilder
      var i = from
      var more = true
      while (more) lit.findPrefixMatchOf(raw.substring(i)) match {
        case Some(m) => sb ++= m.group(2); i += m.end
        case None => more = false
      }
      sb.toString
    }

    private def mentions(text: String, qn: String): Boolean = {
      val (o, n) = qn.splitAt(qn.indexOf('.'))
      s"""\\b$o\\s*\\.\\s*${n.drop(1)}\\b""".r.findFirstIn(text).isDefined
    }

    /** What is wrong with "row `row` of `spec` runs all of `names` and
      * asserts an equality".
      */
    def pin(rows: Seq[SpecRow], spec: String, row: String, names: Seq[String]): Seq[String] =
      rows.find(r => r.spec == spec && r.name.startsWith(row)) match {
        case None => Seq(s"""no spec row "$row" in $spec""")
        case Some(r) =>
          names.filterNot(n => mentions(r.body + r.helpers, n))
            .map(n => s"""row "$row" of $spec does not run $n""") ++
            (if (!(r.body + r.helpers).contains("==="))
               Seq(s"""row "$row" of $spec asserts no equality""")
             else Nil)
      }
  }

  /** Reading and lexing Scala source, just enough to find names. */
  object Lexer {
    def scalaFiles(dir: File): Seq[File] =
      Option(dir.listFiles).toSeq.flatten.sortBy(_.getName).flatMap { f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }

    def read(f: File): String = {
      val s = Source.fromFile(f, "UTF-8")
      try s.mkString finally s.close()
    }

    def isIdent(t: String): Boolean = t.nonEmpty && (t.head.isLetter || t.head == '_')

    /** `src` with comments and string-literal text blanked to spaces,
      * line breaks and offsets kept. An interpolator's `${…}` and `$name`
      * stay, since they are code.
      */
    def strip(src: String): String = {
      val out = new StringBuilder(src.length)
      val n = src.length
      def blank(from: Int, until: Int): Unit =
        (from until until).foreach(k => out += (if (src(k) == '\n') '\n' else ' '))
      var i = 0
      while (i < n) {
        if (src.startsWith("//", i)) {
          val j = { val e = src.indexOf('\n', i); if (e < 0) n else e }
          blank(i, j); i = j
        } else if (src.startsWith("/*", i)) {
          var depth = 1
          var j = i + 2
          while (j < n && depth > 0) {
            if (src.startsWith("/*", j)) { depth += 1; j += 2 }
            else if (src.startsWith("*/", j)) { depth -= 1; j += 2 }
            else j += 1
          }
          blank(i, j); i = j
        } else if (src(i) == '"') {
          val interp = i > 0 && (src(i - 1).isLetterOrDigit || src(i - 1) == '_')
          val triple = src.startsWith("\"\"\"", i)
          var j = i + (if (triple) 3 else 1)
          blank(i, j)
          var open = true
          while (open && j < n) {
            if (triple && src.startsWith("\"\"\"", j)) {
              var k = j
              while (k < n && src(k) == '"') k += 1
              blank(j, k); j = k; open = false
            } else if (!triple && src(j) == '"') {
              blank(j, j + 1); j += 1; open = false
            } else if (!triple && src(j) == '\\') {
              blank(j, math.min(j + 2, n)); j += 2
            } else if (interp && src.startsWith("${", j)) {
              var d = 1
              var k = j + 2
              while (k < n && d > 0) {
                if (src(k) == '{') d += 1 else if (src(k) == '}') d -= 1
                k += 1
              }
              out ++= "  " ++= src.substring(j + 2, k - 1) += ' '
              j = k
            } else if (interp && src(j) == '$' && j + 1 < n &&
                (src(j + 1).isLetter || src(j + 1) == '_')) {
              var k = j + 1
              while (k < n && (src(k).isLetterOrDigit || src(k) == '_')) k += 1
              out += ' ' ++= src.substring(j + 1, k)
              j = k
            } else {
              blank(j, j + 1); j += 1
            }
          }
          i = j
        } else if (src(i) == '\'' && i + 2 < n &&
            (src(i + 2) == '\'' || (src(i + 1) == '\\' && i + 3 < n && src(i + 3) == '\''))) {
          val j = i + (if (src(i + 1) == '\\') 4 else 3)
          blank(i, j); i = j
        } else {
          out += src(i); i += 1
        }
      }
      out.toString
    }

    /** (offset, token): identifiers, and every other non-blank character
      * alone; number literals are skipped.
      */
    def tokens(text: String): Vector[(Int, String)] = {
      val out = Vector.newBuilder[(Int, String)]
      val n = text.length
      var i = 0
      while (i < n) {
        val c = text(i)
        if (c.isLetter || c == '_') {
          var j = i + 1
          while (j < n && (text(j).isLetterOrDigit || text(j) == '_')) j += 1
          out += ((i, text.substring(i, j))); i = j
        } else if (c.isDigit) {
          while (i < n && (text(i).isLetterOrDigit || text(i) == '.' || text(i) == '_')) i += 1
        } else {
          if (!c.isWhitespace) out += ((i, c.toString))
          i += 1
        }
      }
      out.result()
    }
  }
}
