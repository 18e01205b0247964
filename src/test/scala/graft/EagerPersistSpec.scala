package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §4's eager-materialization rule as a source-scan test (the
  * PlanShapeSpec idiom, one level up): every `.persist(` in the query
  * packs must be materialized where it stands — wrapped in
  * [[CacheBook.materialize]] or followed by an explicit guarded
  * `count()` within a few lines. A lazy persist whose first consumers
  * are concurrent branches (futures, or the two sides of a self-join
  * compiled into one job) races: each branch computes the build before
  * either populates the cache, so the "shared" relation is built twice
  * — observed on the r03 shingle build and called out again by the r12
  * verdict on d_allpairs' self-joined prefix relation. The rule is
  * structural, so it is pinned structurally: this spec fails on any
  * new lazy persist, wherever it hides.
  *
  * Scope: `graft/queries` (the packs whose persists register with
  * CacheBook). Operators with loop-generation persists that an
  * immediate single action materializes by design (BpeVocab's
  * one-job-per-iteration merge loop) are outside the scope and
  * document their own contract.
  */
class EagerPersistSpec extends AnyFunSuite {

  private val Window = 8 // forward/backward scan bound around the persist

  test("every query-pack persist is eagerly materialized (count or materialize)") {
    val dir = Paths.get("src/main/scala/graft/queries")
    val valDef = """\bva[lr]\s+(\w+)\s*=""".r
    val offenders = Files.list(dir).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val lines = Files.readAllLines(p).asScala.toVector
        lines.zipWithIndex.collect {
          case (l, i) if l.contains(".persist(") =>
            // the enclosing statement: scan back to the nearest val/var
            // binding AT OR ABOVE the persist line's nesting level (by
            // indentation) — a deeper-indented val inside a lambda body
            // between the binding and its chained .persist is not the
            // statement start
            def indent(s: String) = s.takeWhile(_ == ' ').length
            val starts = (math.max(0, i - 40) to i).reverse
              .filter(j => valDef.findFirstIn(lines(j)).isDefined &&
                (j == i || indent(lines(j)) <= indent(lines(i))))
            val boundNames = starts.flatMap(j =>
              valDef.findFirstMatchIn(lines(j)).map(_.group(1)))
            val stmt = starts.headOption.map(j => lines.slice(j, i + 1))
              .getOrElse(Vector(l))
            val fwd = lines.slice(i + 1, i + Window + 1)
            // accept (a) the audited helper WRAPPING the persist
            // expression (materialize appears inside the same
            // statement), or (b) the identifier-matched idioms on the
            // bound name: CacheBook.materialize(name), or the guarded
            // name.count() + name.unpersist( pair. An adjacent
            // UNRELATED relation's materialize/count can no longer
            // false-pass a new lazy persist (r13 ADVICE).
            val wrapped = stmt.exists(_.contains("CacheBook.materialize"))
            val byName = boundNames.exists { n =>
              fwd.exists(_.contains(s"CacheBook.materialize($n)")) ||
                (fwd.exists(_.contains(s"$n.count()")) &&
                  fwd.exists(_.contains(s"$n.unpersist(")))
            }
            if (wrapped || byName) None else Some(s"${p.getFileName}:${i + 1}")
          case _ => None
        }.flatten
      }.toList
    assert(offenders.isEmpty,
      s"lazy persists (no statement-wrapping materialize, and no " +
        s"identifier-matched materialize/count within $Window lines): " +
        offenders.mkString(", "))
  }

  test("localCheckpoint memos are eager (the lazy flavor would race identically)") {
    val dir = Paths.get("src/main/scala/graft/queries")
    val offenders = Files.list(dir).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (l, i) if l.contains("localCheckpoint(") &&
              !l.contains("localCheckpoint(true)") &&
              !l.contains("localCheckpoint(eager = true)") =>
            s"${p.getFileName}:${i + 1}"
        }
      }.toList
    assert(offenders.isEmpty,
      s"non-eager localCheckpoint calls: ${offenders.mkString(", ")}")
  }

  test("CacheBook is the only memo mechanism in src/main") {
    // a hand-rolled memo map, build-once cell, build context or an
    // unbounded global pool outside CacheBook is a second mechanism
    val banned = Seq("graft.Once", "new Once", "Map.empty[(SparkSession",
      "CacheBook.building", "Implicits.global")
    val offenders = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "CacheBook.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (l, i) if banned.exists(l.contains) => s"${p.getFileName}:${i + 1}"
        }
      }.toList
    assert(offenders.isEmpty, s"memo mechanisms outside CacheBook: ${offenders.mkString(", ")}")
  }

  test("Sessions builds every session and JobMeter owns every listener in src/main") {
    // a builder chain elsewhere drifts in width, zone and conf, and its
    // getOrCreate re-configures whatever session is already running (the
    // conf.set guard below cannot see a .config(...) chain)
    val owned = Seq(
      "SparkSession.builder" -> "Sessions.scala",
      "SPARK_GRAFT_CPUS" -> "Sessions.scala",
      "extends SparkListener" -> "JobMeter.scala",
      "new SparkListener" -> "JobMeter.scala",
      // operators keep their frames through CacheBook.keep
      "register: (() => Unit) => Unit" -> "")
    val offenders = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val file = p.getFileName.toString
        Files.readAllLines(p).asScala.zipWithIndex.flatMap { case (l, i) =>
          owned.collect { case (text, owner) if l.contains(text) && file != owner =>
            s"$file:${i + 1} ($text)"
          }
        }
      }.toList
    assert(offenders.isEmpty, s"outside their one owner: ${offenders.mkString(", ")}")
  }

  test("Profiles.narrow is the only writer of the narrow profile's keys in src/main") {
    // a lock, a save/set/restore copy or an env knob beside the one
    // refcounted scope would be a second mechanism: two overlapping
    // save/set/restore scopes leave a shared session pinned
    val banned = Seq("confLock", "walkConfLock", "pinnedLoopConf", "discoveryScope",
      "SPARK_GRAFT_CC_PARTITIONS", "SPARK_GRAFT_SLICE_PARTITIONS",
      "SPARK_GRAFT_SLICE_AQE", "SPARK_GRAFT_WALK_PARTITIONS")
    val sources = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p -> Files.readAllLines(p).asScala.toVector).toList
    val mentions = for {
      (p, lines) <- sources
      (l, i) <- lines.zipWithIndex if banned.exists(l.contains)
    } yield s"${p.getFileName}:${i + 1}"
    assert(mentions.isEmpty, s"retired conf-scope mechanisms: ${mentions.mkString(", ")}")
    // conf.set(k, ...) where k is the key's literal, or a name bound to
    // it in the same file; the argument may sit on the next line
    val firstArg = """conf\.set\(\s*([^,\s]+)""".r
    def sets(key: String): List[(String, Int)] = for {
      (p, lines) <- sources
      bound = lines.flatMap(l => s"""va[lr]\\s+(\\w+)\\s*=\\s*"\\Q$key\\E"""".r
        .findFirstMatchIn(l).map(_.group(1))).toSet
      (l, i) <- lines.zipWithIndex
      at <- Iterator.iterate(l.indexOf("conf.set("))(j => l.indexOf("conf.set(", j + 1))
        .takeWhile(_ >= 0).toList
      m <- firstArg.findFirstMatchIn(l.substring(at) + " " + lines.lift(i + 1).getOrElse(""))
      if m.group(1) == s"\"$key\"" || bound(m.group(1))
    } yield (p.getFileName.toString, i + 1)
    val aqe = sets("spark.sql.adaptive.enabled").filterNot(_._1 == "Profiles.scala")
    assert(aqe.isEmpty, s"AQE set outside Profiles.scala: $aqe")
    // streamSession sets the width on its own clone of the session
    val streamClone = sources.collectFirst { case (p, lines)
        if p.getFileName.toString == "StreamingOps.scala" =>
      val start = lines.indexWhere(_.contains("private def streamSession("))
      if (start < 0) Range(0, 0) else start until lines.indexWhere(_.startsWith("  }"), start)
    }.getOrElse(Range(0, 0))
    val width = sets("spark.sql.shuffle.partitions").filterNot { case (f, n) =>
      f == "Profiles.scala" || (f == "StreamingOps.scala" && streamClone.contains(n - 1))
    }
    assert(width.isEmpty, s"shuffle width set outside Profiles.scala: $width")
  }
}
