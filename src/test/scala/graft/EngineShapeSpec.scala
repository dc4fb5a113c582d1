package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Structural guard on `src/main/scala`: the engine ships a fixed set of
  * entry points, builds every SparkSession through [[GraftSession]], has a
  * caller for every public operator, and keeps its scaladoc attached and
  * linked, so a throwaway main, a copied session builder, an operator
  * nothing runs or a dangling doc fails here. */
class EngineShapeSpec extends AnyFunSuite {
  import EngineShapeSpec._

  private val mainDir = Paths.get("src/main/scala")
  private val benchDir = Paths.get("perfbench/scala")

  private def scalaFiles(dir: Path): Seq[(Path, String)] = {
    assert(Files.isDirectory(dir), s"run from the repo root: $dir")
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .sortBy(_.toString)
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
    finally walk.close()
  }

  private def sources: Seq[(Path, String)] = scalaFiles(mainDir)

  private def lex(text: String): Lexed = {
    val code = text.toCharArray
    val bare = text.toCharArray
    val docs = Seq.newBuilder[(Int, String)]
    def blank(a: Array[Char], from: Int, until: Int): Unit =
      for (k <- from until until if a(k) != '\n') a(k) = ' '
    val n = text.length
    var i = 0
    while (i < n) {
      if (text.startsWith("//", i)) {
        val j = { val e = text.indexOf('\n', i); if (e < 0) n else e }
        blank(code, i, j); blank(bare, i, j); i = j
      } else if (text.startsWith("/*", i)) {
        var depth = 1; var j = i + 2
        while (j < n && depth > 0) {
          if (text.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (text.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        if (text.startsWith("/**", i) && !text.startsWith("/**/", i))
          docs += i -> text.substring(i, j)
        blank(code, i, j); blank(bare, i, j); i = j
      } else if (text.startsWith("\"\"\"", i)) {
        var j = text.indexOf("\"\"\"", i + 3)
        j = if (j < 0) n else j + 3
        while (j < n && text(j) == '"') j += 1
        blank(bare, i, j); i = j
      } else if (text(i) == '"') {
        var j = i + 1
        while (j < n && text(j) != '"' && text(j) != '\n')
          j += (if (text(j) == '\\') 2 else 1)
        j = math.min(j + 1, n)
        blank(bare, i, j); i = j
      } else if (text(i) == '\'' && i + 2 < n &&
          (text(i + 2) == '\'' || text(i + 1) == '\\')) {
        val j = text.indexOf('\'', i + 3 - (if (text(i + 1) == '\\') 0 else 1))
        i = if (j < 0) n else j + 1
      } else i += 1
    }
    Lexed(new String(code), new String(bare), docs.result())
  }

  private def lineOf(text: String, offset: Int): Int =
    text.substring(0, offset).count(_ == '\n') + 1

  /** Public defs of the engine's operator objects that nothing in
    * `src/main` or `perfbench` calls, each with the reason it stays. */
  private val unreachedAllowlist: Map[String, String] = {
    val ml1m = "ML-1M .dat loader that Ml1mEndToEndSpec reads through"
    val pending = "spec-only operator with no registry row; to be deleted " +
      "with its spec (ROADMAP, carried items)"
    Map(
      "StreamingJobs.kafkaEvents" -> "compile-only Kafka source (COVERAGE S5)",
      "Readers.loadRatings" -> ml1m,
      "Readers.loadUsers" -> ml1m,
      "Readers.loadMovies" -> ml1m,
      "RankingMetrics.meanMetrics" ->
        "E9 mean Ml1mEndToEndSpec checks against the reference's ML-1M metrics",
      // differential references a spec compares a live path against
      "Relational.timeSplitRank" -> "SplitDifferentialSpec reference of timeSplit",
      "Similarity.clusterPrunedTopKPq" ->
        "single-arm reference of the multi-arm PQ shortlist (VectorSpec)",
      "Similarity.clusterPrunedTopKPqResidual" ->
        "single-arm reference of the residual multi-arm shortlist (VectorSpec)",
      "Similarity.clusterPrunedTopKStored" ->
        "full-catalog reference of servedTopKFromStore (StreamingSpec)",
      "Dedup.exactDedup" ->
        "batch reference of incrementalDedupStream and the span dedup specs",
      "Dedup.simHash64" ->
        "brute-force reference of simHashNearDups banding (DedupTextSpec)",
      "Dedup.simHash128" ->
        "brute-force reference of simHashNearDups128 banding (DedupTextSpec)",
      "Dedup.hamming128" ->
        "brute-force reference of simHashNearDups128 banding (DedupTextSpec)",
      "Dedup.simHash64FromHashes" ->
        "fold reference the native SimHash64 kernel is bit-compared against",
      "Dedup.minHashSignatureFromHashes" ->
        "fold reference the native MinHashSignature kernel is bit-compared against",
      "Dedup.connectedComponentsAlternating" ->
        "golden the min-label connectedComponents is compared against",
      "Inference.scorePartitions" ->
        "partition scorer linearScore is compared against (VectorSpec U5)",
      // the one streaming form of a batch row, with a parity or recovery spec
      "StreamingJobs.windowedFeatures" ->
        "stream form of Features.windowedActivity; parity spec",
      "StreamingJobs.trailingActivityStream" ->
        "stream form of Features.trailingActivity; parity spec",
      "StreamingJobs.sessionizeStream" ->
        "stream form of Features.sessionize; parity and idle-key timeout specs",
      "StreamingJobs.hoppingCountsStream" -> "stream form of t4_hopping; parity spec",
      "StreamingJobs.attributionStream" ->
        "stream form of the a12 click-view join; parity spec",
      "StreamingJobs.incrementalDedupStream" ->
        "stream form of exact dedup; parity and crash-recovery specs",
      "StreamingJobs.incrementalPassageDedupStream" ->
        "stream form of dedupPassages; crash-recovery spec",
      "StreamingJobs.ivfIndexedAppendStream" ->
        "stream form of assignClusters; parity and rebuild spec",
      // no registry row yet: kept until its spec goes with it
      "StreamingJobs.termCountStream" -> pending)
  }

  /** Public defs of the objects under `ops/`, `functions/` (not the
    * `expr/` expression classes), `sources/`, `streaming/` and `eval/`. */
  private def operatorDefs: Seq[OperatorDef] = objectDefs(withPrivate = false)

  /** Member defs of those objects, the private ones too when asked. */
  private def objectDefs(withPrivate: Boolean): Seq[OperatorDef] = {
    val scanned = Seq("ops", "functions", "sources", "streaming", "eval")
      .map(d => mainDir.resolve("graft").resolve(d))
    val exprDir = mainDir.resolve("graft/functions/expr")
    val topRx = """^\s*(?:\w+\s+)*(object|class|trait)\s+(\w+)""".r
    val defRx = """^(\s*)((?:\w+(?:\[\w+\])?\s+)*)def\s+([A-Za-z_]\w*)""".r
    def indent(l: String) = l.length - l.dropWhile(_ == ' ').length
    sources.filter { case (p, _) =>
      scanned.exists(p.startsWith) && !p.startsWith(exprDir)
    }.flatMap { case (p, text) =>
      val lines = lex(text).bare.split("\n", -1)
      var depth = 0
      var owner = Option.empty[String]
      lines.indices.flatMap { i =>
        if (depth == 0) topRx.findPrefixMatchOf(lines(i)).foreach(m =>
          owner = Some(m.group(2)).filter(_ => m.group(1) == "object"))
        val found = defRx.findPrefixMatchOf(lines(i)).filter(m =>
          depth == 1 && owner.isDefined && (withPrivate ||
            !m.group(2).split("\\s+").exists(w =>
              w.startsWith("private") || w.startsWith("protected"))))
          .map { m =>
            val ind = m.group(1).length
            val end = ((i + 1) until lines.length).find { j =>
              val s = lines(j).trim
              s.nonEmpty && (indent(lines(j)) < ind ||
                (indent(lines(j)) == ind && !"})".contains(s.head)))
            }.getOrElse(lines.length)
            OperatorDef(owner.get, m.group(3), p, i until end)
          }
        depth += lines(i).count(_ == '{') - lines(i).count(_ == '}')
        found
      }
    }
  }

  test("every public operator is called from src/main or perfbench, or " +
    "allowlisted with a reason") {
    val defs = operatorDefs
    assert(defs.size > 100, s"scan found only ${defs.size} operator defs")
    val identRx = """[A-Za-z_]\w*""".r
    // name -> (file, line) of each use outside comments
    val uses: Map[String, Seq[(Path, Int)]] =
      (sources ++ scalaFiles(benchDir)).flatMap { case (p, text) =>
        lex(text).code.split("\n", -1).zipWithIndex.flatMap { case (l, i) =>
          identRx.findAllIn(l).map(_ -> (p, i))
        }
      }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    def inOwnDefinition(name: String, at: (Path, Int)): Boolean =
      defs.exists(d => d.name == name && d.file == at._1 && d.lines.contains(at._2))
    val unreached = defs.filterNot(d =>
      uses.getOrElse(d.name, Nil).exists(u => !inOwnDefinition(d.name, u)))
      .map(d => s"${d.owner}.${d.name}").distinct.sorted
    val missing = unreached.filterNot(unreachedAllowlist.contains)
    assert(missing.isEmpty, "public defs nothing in src/main or perfbench " +
      s"calls (call, delete or allowlist them): ${missing.mkString(", ")}")
    val stale = unreachedAllowlist.keys.toSeq.sorted.filterNot(unreached.contains)
    assert(stale.isEmpty,
      s"allowlisted defs that are now called or gone: ${stale.mkString(", ")}")
    assert(unreachedAllowlist.values.forall(_.trim.nonEmpty))
  }

  test("no scaladoc block is followed, after blank lines only, by another") {
    val orphans = sources.flatMap { case (p, text) =>
      val blocks = lex(text).docs
      blocks.zip(blocks.drop(1)).collect {
        case ((a, doc), (b, _)) if text.substring(a + doc.length, b).trim.isEmpty =>
          s"$p:${lineOf(text, a)}"
      }
    }
    assert(orphans.isEmpty, s"scaladoc that documents nothing: ${orphans.mkString(", ")}")
  }

  test("every [[link]] in a src/main scaladoc names a definition in src/main") {
    val lexed = sources.map { case (p, text) => (p, text, lex(text)) }
    val declRx = """\b(?:def|val|var|class|object|trait|type)\s+([A-Za-z_]\w*)""".r
    val defined = lexed.flatMap { case (_, _, l) =>
      declRx.findAllMatchIn(l.bare).map(_.group(1))
    }.toSet
    val linkRx = """\[\[([A-Za-z_][\w.#]*)""".r
    val dangling = lexed.flatMap { case (p, text, l) =>
      l.docs.flatMap { case (at, doc) =>
        linkRx.findAllMatchIn(doc)
          .filterNot(m => defined(m.group(1).split("[.#]").last))
          .map(m => s"$p:${lineOf(text, at + m.start)} [[${m.group(1)}]]")
      }
    }
    assert(dangling.isEmpty, s"doc links to nothing: ${dangling.mkString(", ")}")
  }

  test("src/main defines main only in Bench, Verify, Explain, ScaleUp, DedupStats") {
    val objectRx = """\bobject\s+(\w+)""".r
    val mainRx = """\bdef\s+main\s*\(""".r
    val owners = sources.flatMap { case (_, text) =>
      val objects =
        objectRx.findAllMatchIn(text).map(m => m.start -> m.group(1)).toSeq
      mainRx.findAllMatchIn(text).map { m =>
        objects.filter(_._1 < m.start).lastOption.map(_._2).getOrElse("?")
      }
    }
    assert(owners.sorted ===
      Seq("Bench", "DedupStats", "Explain", "ScaleUp", "Verify"))
  }

  test("SparkSession.builder appears only in GraftSession.scala") {
    val sites = sources.collect {
      case (p, text) if text.contains("SparkSession.builder") =>
        p.getFileName.toString
    }
    assert(sites === Seq("GraftSession.scala"))
  }

  /** `src/main` sources with comments blanked (string literals kept). */
  private def mainCode: Seq[(Path, String)] =
    sources.map { case (p, text) => p -> lex(text).code }

  test("recall is folded only by RankingMetrics.recallVsExact: no " +
    "__hit marker elsewhere") {
    val fold = operatorDefs.filter(d =>
      d.owner == "RankingMetrics" && d.name == "recallVsExact")
    val outside = mainCode.flatMap { case (p, code) =>
      code.split("\n", -1).zipWithIndex.collect {
        case (l, i) if l.contains("\"__hit\"") &&
            !fold.exists(d => d.file == p && d.lines.contains(i)) =>
          s"$p:${i + 1}"
      }
    }
    assert(outside.isEmpty, "recall folded by hand instead of through " +
      s"RankingMetrics.recallVsExact: ${outside.mkString(", ")}")
    assert(fold.size === 1, "RankingMetrics.recallVsExact not found")
  }

  test("no exact baseline is localCheckpointed") {
    // a `val exact… =` statement runs to the next line indented no deeper
    val valRx = """^(\s*)val\s+exact\w*\s*=""".r
    def indent(l: String) = l.length - l.dropWhile(_ == ' ').length
    val checkpointed = mainCode.flatMap { case (p, code) =>
      val lines = code.split("\n", -1)
      lines.indices.flatMap { i =>
        valRx.findPrefixMatchOf(lines(i)).filter { m =>
          val end = ((i + 1) until lines.length).find(j =>
            lines(j).trim.nonEmpty && indent(lines(j)) <= m.group(1).length)
            .getOrElse(lines.length)
          (i until end).exists(j => lines(j).contains("localCheckpoint"))
        }.map(_ => s"$p:${i + 1}")
      }
    }
    assert(checkpointed.isEmpty, "an exact baseline read by the recall " +
      "fold needs no checkpoint (the fold reads it once): " +
      checkpointed.mkString(", "))
  }

  test("one plan check for the centroid_id pruning join") {
    val collectRx = """sparkPlan\s*\.\s*collect\s*\{""".r
    val checks = mainCode.flatMap { case (p, code) =>
      collectRx.findAllMatchIn(code).map { m =>
        var depth = 1; var j = m.end
        while (j < code.length && depth > 0) {
          if (code(j) == '{') depth += 1
          else if (code(j) == '}') depth -= 1
          j += 1
        }
        (p, lineOf(code, m.start), code.substring(m.end, j))
      }.collect {
        case (p, line, body) if body.contains("BaseJoinExec") &&
            body.contains("centroid_id") => s"$p:$line"
      }
    }
    assert(checks.size === 1, "the centroid_id join REQUIRE should be one " +
      s"helper, found ${checks.size}: ${checks.mkString(", ")}")
  }

  /** The code of `owner.name`'s definition, comments blanked. */
  private def defCode(owner: String, name: String): String = {
    val d = objectDefs(withPrivate = true)
      .filter(d => d.owner == owner && d.name == name)
    assert(d.size == 1, s"$owner.$name defined ${d.size} times")
    val code = lex(new String(Files.readAllBytes(d.head.file), "UTF-8")).code
    code.split("\n", -1).slice(d.head.lines.start, d.head.lines.end)
      .mkString("\n")
  }

  test("bucketed stores: one write per merge, no dynamic partition " +
    "overwrite, one bucket file name shared by the writer and the lookup") {
    assert(sources.forall(!_._2.contains("partitionOverwriteMode")),
      "a bucketed store swaps its files by rename")
    val mergePath = Seq("mergeTouchedBuckets", "restoreAsides",
      "stageAndSwapBuckets").map(defCode("StreamingJobs", _))
    assert(mergePath.map("""\.\s*write\b""".r.findAllIn(_).size).sum === 1,
      "the bucketed merge writes its touched buckets once")
    assert(mainCode.map(c => copies(c._2, "\"bucket-")).sum === 1,
      "one helper names the bucket files")
    val named = """\bbucketFile\b""".r
    assert(mergePath.exists(named.findFirstIn(_).nonEmpty))
    assert(named.findFirstIn(defCode("FeatureStore", "onlineLookup")).nonEmpty)
  }

  private def similaritySource: String = new String(
    Files.readAllBytes(mainDir.resolve("graft/ops/Similarity.scala")), "UTF-8")

  /** Copies of `snippet` in `text`, ignoring whitespace on both sides so a
    * line break inside a copy cannot hide it. */
  private def copies(text: String, snippet: String): Int = {
    val flat = text.replaceAll("\\s", "")
    java.util.regex.Pattern.quote(snippet.replaceAll("\\s", "")).r
      .findAllMatchIn(flat).length
  }

  test("Similarity: one metric prep helper, no optional-catalog parameters") {
    val src = similaritySource
    assert("""\bdef\s+prep\b""".r.findFirstIn(src).isEmpty)
    assert(copies(src, "Option[DataFrame") === 0)
    assert(copies(src, "Option[(DataFrame") === 0)
  }

  test("Similarity: one top-k tail and one IVF probe window") {
    val src = similaritySource
    assert(copies(src, """orderBy(col("score").desc, col("item_id"))""") === 1)
    assert(copies(src, """orderBy(col("__d"), col("centroid_id"))""") === 1)
  }
}

object EngineShapeSpec {

  /** A source split by a small Scala lexer into the same-length `code`
    * (comments blanked, string literals kept), `bare` (string literals
    * blanked too) and its scaladoc blocks as (offset, text). Newlines are
    * kept, so offsets and line numbers carry over. Single-quoted strings
    * end at their line, so an interpolation with nested quotes can only
    * confuse one line. */
  final case class Lexed(code: String, bare: String, docs: Seq[(Int, String)])

  /** A public def that is a member of a top-level object, with the lines
    * of its definition: from the `def` to the next line indented no
    * deeper that is not a closing bracket. */
  final case class OperatorDef(owner: String, name: String, file: Path,
                               lines: Range)
}
