package graft

import org.scalatest.funsuite.AnyFunSuite

/** Intra-repo structural duplication guard — the second COPYCHECK
  * dimension (r12 judge stretch 8). COPYCHECK measures similarity to
  * the REFERENCE; nothing measured whether the repo's own operators
  * drift into copy-paste variants of each other as the query count
  * grows. This is the repo's own q21 shingle-Jaccard machinery run
  * driver-side over `src/main/scala`: top-level `def` units tokenized
  * (comments and string literals stripped — oracle SQL strings are
  * EXPECTED to share CTE prefixes by design, that sharing is a single
  * `val` already), 8-token shingles, pairwise Jaccard, ceiling at the
  * COPYCHECK threshold 0.6.
  *
  * Deliberate twins (a typed Aggregator mirroring another's buffer
  * plumbing, a streaming twin mirroring its sibling's fold shape) sit
  * BELOW the ceiling because their transition logic differs even when
  * the scaffolding rhymes; anything above it is either a candidate for
  * extraction (the `funnelStep` / `seqStep` discipline: share the
  * function, not the paste) or a whitelisted pair with the reason
  * pinned here.
  */
class DupGuardSpec extends AnyFunSuite {

  private val Threshold = 0.6
  private val MinTokens = 60 // tiny helpers rhyme trivially; skip them

  /** (fileA#def, fileB#def) pairs allowed above the ceiling, each with
    * the reason it is deliberate structure-sharing rather than drift.
    */
  private val whitelist: Set[(String, String)] = Set(
    )

  private def stripNoise(src: String): String = {
    // block comments (incl. scaladoc), then line comments, then string
    // literals (triple-quoted first) — similarity should measure CODE
    val noBlock = raw"(?s)/\*.*?\*/".r.replaceAllIn(src, " ")
    val noLine = raw"//[^\n]*".r.replaceAllIn(noBlock, " ")
    val noTriple = "(?s)\"\"\".*?\"\"\"".r.replaceAllIn(noLine, " S ")
    raw""""(\\.|[^"\\])*"""".r.replaceAllIn(noTriple, " S ")
  }

  private def unitsOf(path: java.nio.file.Path): Seq[(String, Array[String])] = {
    val name = path.getFileName.toString.stripSuffix(".scala")
    val src = stripNoise(new String(java.nio.file.Files.readAllBytes(path)))
    // split at def boundaries (top-level and nested defs both start
    // units — granular enough to catch pasted method bodies)
    val defRe = raw"(?m)^\s*(?:(?:private|protected)(?:\[\w+\])?\s+)?(?:final\s+)?def\s+(\w+)".r
    val ms = defRe.findAllMatchIn(src).toSeq
    if (ms.isEmpty) Seq.empty
    else ms.zipWithIndex.map { case (m, i) =>
      val end = if (i + 1 < ms.size) ms(i + 1).start else src.length
      val toks = src.substring(m.start, end).split(raw"\W+").filter(_.nonEmpty)
      (s"$name#${m.group(1)}", toks)
    }
  }

  test("streaming sink wiring (.writeStream / .foreachBatch) lives only in streaming/Twin.scala") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val wiring = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter { p =>
        val code = stripNoise(new String(java.nio.file.Files.readAllBytes(p)))
        code.contains(".writeStream") || code.contains(".foreachBatch")
      }
      .map(root.relativize(_).toString).toSet
    assert(wiring == Set("streaming/Twin.scala"),
      s"sink wiring outside Twin.sink: ${(wiring - "streaming/Twin.scala").toSeq.sorted}")
  }

  test("the batch-key formula lives only in Warehouse.scala, the checkpoint-release walk only in TransientCache.scala") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    def filesWith(needle: String): Set[String] =
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(p => stripNoise(new String(java.nio.file.Files.readAllBytes(p))).contains(needle))
        .map(root.relativize(_).toString).toSet
    assert(filesWith("bit_xor(xxhash64(") == Set("pipelines/Warehouse.scala"))
    assert(filesWith("LogicalRDD") == Set("TransientCache.scala"))
  }

  test("the nightly write path has one keyed merge and no session cache under its extract") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    def code(p: java.nio.file.Path): String =
      stripNoise(new String(java.nio.file.Files.readAllBytes(p)))
    assert(!code(root.resolve("operators/Sales.scala")).contains(".cache()"),
      "operators/Sales.scala must not cache: the nightly extract reads it")
    val merges = java.nio.file.Files.walk(root.resolve("pipelines")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => code(p).contains("Upsert.upsertByKey"))
      .map(root.relativize(_).toString).toSet
    assert(merges.isEmpty, s"version-wins merges under pipelines/: ${merges.toSeq.sorted}")
  }

  test("the only entry points in src/main are Bench, Verify and DevProfile") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val objectRe = raw"\bobject\s+(\w+)".r
    val mainRe = raw"\bdef\s+main\s*\(".r
    // each `def main` belongs to the nearest object declared above it
    val mains = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { p =>
        val code = stripNoise(new String(java.nio.file.Files.readAllBytes(p)))
        val objs = objectRe.findAllMatchIn(code).map(m => m.start -> m.group(1)).toSeq
        mainRe.findAllMatchIn(code).map { m =>
          objs.filter(_._1 < m.start).lastOption.map(_._2)
            .getOrElse(s"<no object in ${root.relativize(p)}>")
        }
      }
    assert(mains.sorted == Seq("Bench", "DevProfile", "Verify"),
      s"entry points in src/main: ${mains.sorted.mkString(", ")}")
  }

  test("no second code path rides beside an oracle-matched one: no *Prod twin, no orderedFold fork") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    // q103's windowFunnelProd is a query of its own, not a twin
    val twinRe = raw"\bdef\s+(\w+Prod)\b".r
    val found = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { p =>
        val code = stripNoise(new String(java.nio.file.Files.readAllBytes(p)))
        twinRe.findAllMatchIn(code).map(_.group(1))
          .filter(_ != "windowFunnelProd").toSeq ++
          (if (code.contains("orderedFold")) Seq(s"orderedFold in ${root.relativize(p)}")
           else Nil)
      }
    assert(found.isEmpty, s"twin code paths in src/main: ${found.sorted.mkString(", ")}")
  }

  test("no two operator bodies exceed the copy-paste ceiling (token-shingle Jaccard 0.6)") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    assert(files.size > 30, s"expected the full main tree, saw ${files.size}")

    val units = files.flatMap(unitsOf)
      .filter(_._2.length >= MinTokens)
      .map { case (id, toks) =>
        val shingles = toks.sliding(8).map(_.mkString(" ").hashCode).toSet
        (id, shingles)
      }
      .filter(_._2.size >= 20)
    assert(units.size > 150, s"unit extraction broke? ${units.size} units")

    val offenders = for {
      i <- units.indices
      j <- (i + 1) until units.size
      (ia, sa) = units(i)
      (ib, sb) = units(j)
      // same-name overloads / apply chains in one file measure the
      // same logical unit — only DISTINCT defs are drift candidates
      if ia != ib
      inter = sa.count(sb)
      jac = inter.toDouble / (sa.size + sb.size - inter)
      if jac > Threshold
      if !whitelist((ia, ib)) && !whitelist((ib, ia))
    } yield f"$ia ~ $ib: $jac%.2f"

    // visibility: the top rhymes below the ceiling, for the record
    val top = (for {
      i <- units.indices; j <- (i + 1) until units.size
      (ia, sa) = units(i); (ib, sb) = units(j)
      inter = sa.count(sb)
      jac = inter.toDouble / (sa.size + sb.size - inter)
      if jac > 0.35
    } yield (jac, s"$ia ~ $ib")).sortBy(-_._1).take(8)
    top.foreach { case (jac, pair) => info(f"$jac%.2f  $pair") }

    assert(offenders.isEmpty,
      "operator bodies above the copy-paste ceiling:\n" + offenders.mkString("\n"))
  }
}
