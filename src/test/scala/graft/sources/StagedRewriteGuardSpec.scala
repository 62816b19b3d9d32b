package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Source guard for the staged-rewrite protocol and the batch ledger
  * (the [[RegistryGuardSpec]] pattern, over `src/main/scala`): each
  * stage format is written once, in [[StagedRewrite]], the writer lock
  * is acquired once, in `Maintenance.withWriterLock`, and the batch
  * ledger's format (partition name, sig and fold markers, content
  * fingerprint) is known once, in `graft.streaming.BatchCommit`.
  * Lineage cuts and driver-side thread pools live once, in
  * `graft.ml.Materialize`. A copied stage sequence, lock acquisition,
  * ledger literal, cut or pool elsewhere fails here by name.
  */
class StagedRewriteGuardSpec extends AnyFunSuite {

  /** The code of a Scala source with comments removed, and the text of
    * its string literals (an interpolation's `${...}` is code).
    */
  private def scan(src: String): (String, Seq[String]) = {
    val code = new StringBuilder
    val lits = Seq.newBuilder[String]
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    // the string whose opening quotes end at i; leaves i after its
    // closing quotes
    def string(triple: Boolean, interpolated: Boolean): Unit = {
      val close = if (triple) "\"\"\"" else "\""
      val lit = new StringBuilder
      while (i < src.length && !at(close)) {
        if (!triple && src(i) == '\\') { lit.append(src.substring(i, i + 2)); i += 2 }
        else if (interpolated && at("${")) {
          i += 2
          var depth = 1
          while (i < src.length && depth > 0) {
            if (src(i) == '{') depth += 1
            if (src(i) == '}') depth -= 1
            if (depth > 0) {
              if (src(i) == '"') { i += 1; string(false, false) }
              else { code.append(src(i)); i += 1 }
            } else i += 1
          }
        } else { lit.append(src(i)); i += 1 }
      }
      lits += lit.toString
      i += close.length
    }
    while (i < src.length) {
      if (at("//")) while (i < src.length && src(i) != '\n') i += 1
      else if (at("/*")) {
        var depth = 0
        while (i < src.length && (depth > 0 || at("/*"))) {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else i += 1
        }
      } else if (at("'") && i + 2 < src.length &&
          (src(i + 2) == '\'' || src(i + 1) == '\\')) {
        // a char literal: 'x' or an escape such as '\n'
        i = src.indexOf('\'', if (src(i + 1) == '\\') i + 3 else i + 2) + 1
      } else if (at("\"")) {
        val interpolated = i > 0 && src(i - 1).isLetter
        val triple = at("\"\"\"")
        i += (if (triple) 3 else 1)
        string(triple, interpolated)
      } else { code.append(src(i)); i += 1 }
    }
    (code.toString, lits.result())
  }

  private val StageLiterals =
    Seq("_GRAFT_STAGE_ID", "graftc-", "graftf-", "/_parts")

  /** The batch ledger's format, owned by `BatchCommit.scala`. */
  private val LedgerLiterals =
    Seq("ingest_batch=", "_GRAFT_BATCH_SIG", "_GRAFT_FOLDED",
      "bit_xor(xxhash64")

  private def sources: Seq[(Path, String)] = {
    val root = Paths.get("src/main/scala")
    val it = Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      it.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
        .sortBy(_.toString)
        .map(p => p -> new String(Files.readAllBytes(p),
          StandardCharsets.UTF_8))
    } finally it.close()
  }

  test("stage formats and the writer-lock acquisition are written " +
      "once: no stage literal, stage apply or exclusive create outside " +
      "StagedRewrite and Maintenance.withWriterLock") {
    val stageModule =
      Paths.get("src/main/scala/graft/sources/StagedRewrite.scala")
    val lockModule = Paths.get("src/main/scala/graft/ml/Maintenance.scala")
    val exclusiveCreate =
      """\.create\((?:[^()]|\([^()]*\))*,\s*false\s*\)""".r
    val scanned = sources.map { case (p, src) => (p, scan(src)) }
    assert(scanned.exists(_._1 == stageModule) &&
      scanned.exists(_._1 == lockModule))
    val offenders = scanned.filter(_._1 != stageModule).flatMap {
      case (p, (code, lits)) =>
        val literal = StageLiterals.filter(l => lits.exists(_.contains(l)))
          .map(l => s"$p: literal '$l'")
        val apply =
          if ("""\bapplyCompactionStage\s*\(""".r
              .findFirstIn(code).isDefined)
            Seq(s"$p: call to applyCompactionStage")
          else Nil
        val lockBody =
          if (p != lockModule) None
          else {
            val from = code.indexOf("def withWriterLock")
            Some(from -> code.indexOf("\n  private[graft] def", from + 1))
          }
        val creates = exclusiveCreate.findAllMatchIn(code)
          .filterNot(m => lockBody.exists { case (from, to) =>
            from >= 0 && m.start > from && (to < 0 || m.start < to)
          })
          .map(_ => s"$p: fs.create(…, false) outside withWriterLock")
        literal ++ apply ++ creates
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
    // the one acquisition is still there: the guard must not go blind
    val (lockCode, _) = scanned.find(_._1 == lockModule).get._2
    assert(exclusiveCreate.findAllMatchIn(lockCode).size === 1)
    val (stageCode, stageLits) = scanned.find(_._1 == stageModule).get._2
    assert(StageLiterals.forall(l => stageLits.exists(_.contains(l))),
      s"StagedRewrite's literals: $stageLits")
    assert(stageCode.contains("def rewriteBuckets"))
  }

  test("the batch ledger's format is known once: no ledger literal or " +
      "fingerprint formula outside BatchCommit") {
    val owner =
      Paths.get("src/main/scala/graft/streaming/BatchCommit.scala")
    val scanned = sources.map { case (p, src) => (p, scan(src)) }
    assert(scanned.exists(_._1 == owner))
    // string literals, and code too: the formula is a Column call
    def holds(scan: (String, Seq[String]), l: String) =
      scan._1.contains(l) || scan._2.exists(_.contains(l))
    val offenders = scanned.filter(_._1 != owner).flatMap {
      case (p, sc) =>
        LedgerLiterals.filter(holds(sc, _)).map(l => s"$p: '$l'")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
    // the owner still holds them: the guard must not go blind
    val ownerScan = scanned.find(_._1 == owner).get._2
    assert(LedgerLiterals.forall(holds(ownerScan, _)),
      s"BatchCommit's literals: ${ownerScan._2}")
  }

  test("lineage cuts and driver-side pools are made once: no " +
      "localCheckpoint(, .checkpoint(, Executors.new or Duration.Inf " +
      "outside Materialize") {
    val owner = Paths.get("src/main/scala/graft/ml/Materialize.scala")
    val forbidden = Seq("localCheckpoint(", ".checkpoint(",
      "Executors.new", "Duration.Inf")
    val scanned = sources.map { case (p, src) => (p, scan(src)._1) }
    assert(scanned.exists(_._1 == owner))
    val offenders = scanned.filter(_._1 != owner).flatMap {
      case (p, code) =>
        forbidden.filter(code.contains(_)).map(f => s"$p: '$f'")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
    // the owner still cuts: the guard must not go blind
    val ownerCode = scanned.find(_._1 == owner).get._2
    assert(ownerCode.contains("localCheckpoint(") &&
      ownerCode.contains(".checkpoint("))
  }
}
