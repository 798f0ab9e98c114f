package graft

import graft.TestSpark.{persisted, persistedSince}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The lifetime rule of [[Materialize]]: a scope frees the frames made on
  * its thread while it was open — on return and on throw — and nothing
  * else. Storage is observed through the ids of the context's persisted RDDs.
  */
class MaterializeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def frame(n: Int) = spark.range(n).selectExpr("id", "id * 2 AS v")

  test("a scope frees its eager and lazily frames on return") {
    val before = persisted
    val n = Materialize.scope {
      val e = Materialize.eager(frame(10))
      val l = Materialize.lazily(frame(20))
      val rows = e.count() + l.count()
      assert(persistedSince(before) == 2, "both frames should be stored inside the scope")
      rows
    }
    assert(n == 30)
    assert(persistedSince(before) == 0, "the scope left frames stored on return")
  }

  test("a scope frees its eager and lazily frames on throw") {
    val before = persisted
    intercept[IllegalStateException] {
      Materialize.scope {
        Materialize.eager(frame(10))
        Materialize.lazily(frame(20)).count()
        assert(persistedSince(before) == 2)
        throw new IllegalStateException("boom")
      }
    }
    assert(persistedSince(before) == 0, "the scope left frames stored on throw")
  }

  test("a nested scope frees only its own frames") {
    val before = persisted
    Materialize.scope {
      val outer = Materialize.eager(frame(10))
      Materialize.scope {
        Materialize.eager(frame(30))
        Materialize.lazily(frame(40)).count()
        assert(persistedSince(before) == 3)
      }
      assert(persistedSince(before) == 1, "the inner scope must free exactly its two frames")
      assert(outer.count() == 10, "the outer frame must still be readable")
    }
    assert(persistedSince(before) == 0)
  }

  test("a frame made outside any scope is untouched by a scope that closes later") {
    val before = persisted
    val free = Materialize.eager(frame(10))
    try {
      Materialize.scope(Materialize.eager(frame(20)).count())
      assert(persistedSince(before) == 1, "the scope freed a frame it did not make")
      assert(free.count() == 10)
    } finally Materialize.release(free)
    assert(persistedSince(before) == 0)
  }

  test("graphTopK in a scope leaves nothing persisted, the future's graph checkpoint included") {
    def vec(deg: Double) = Array(
      math.cos(math.toRadians(deg)).toFloat, math.sin(math.toRadians(deg)).toFloat)
    val cand = Seq(1L -> vec(0), 2L -> vec(15), 3L -> vec(25), 4L -> vec(33), 5L -> vec(40))
      .toDF("c_id", "ce")
    val graph = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 4L)).toDF("node", "nbr")
    val q = Seq(9L -> vec(40)).toDF("q_id", "qe")
    val before = persisted
    val top = Materialize.scope {
      val r = graft.operators.Similarity.graphTopK(q, cand, graph,
          entryK = 1, beam = 2, hops = 4, k = 1)
        .select(col("c_id")).collect().head.getLong(0)
      // the graph checkpoint (built on a future) and the entry beam
      assert(persistedSince(before) >= 2, "graphTopK no longer materializes — test is vacuous")
      r
    }
    assert(top == 5L)
    assert(persistedSince(before) == 0, "graphTopK's checkpoints outlived the scope")
  }

  /** Every `.scala` file under `src/main/scala` as (path relative to it,
    * its lines). */
  private def mainSources: Seq[(String, List[String])] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    files(root).filter(_.getName.endsWith(".scala")).map { f =>
      val rel = root.toPath.relativize(f.toPath).toString
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try (rel, src.getLines().toList) finally src.close()
    }
  }

  /** `file:line: code` of every code line (comments skipped) in
    * `src/main/scala` that `banned` matches and `exempt(relPath, line)`
    * does not excuse.
    */
  private def mainSourceHits(banned: scala.util.matching.Regex,
      exempt: (String, String) => Boolean): Seq[String] =
    mainSources.flatMap { case (rel, lines) =>
      lines.zipWithIndex.flatMap { case (line, i) =>
        val code = line.trim
        val stripped = if (code.startsWith("//") || code.startsWith("*") ||
          code.startsWith("/*")) "" else line.replaceAll("//.*$", "")
        if (banned.findFirstIn(stripped).isDefined && !exempt(rel, stripped))
          Some(s"$rel:${i + 1}: $code")
        else None
      }
    }

  test("lint: no materialization outside Materialize.scala") {
    // Every localCheckpoint / persist / unpersist / checkpoint in main code
    // goes through Materialize, so its scope owns the lifetime. The one
    // exception is Components.truncate's reliable checkpoint (files, not
    // blocks), taken when a checkpoint dir is set.
    val banned = """(localCheckpoint\(|\.persist\(|\.unpersist\(|\.checkpoint\()""".r
    val allowed = ("graft/operators/Components.scala", "df.checkpoint(eager = true)")
    val hits = mainSourceHits(banned, (rel, stripped) =>
      rel.split('/').last == "Materialize.scala" ||
        (rel == allowed._1 && stripped.contains(allowed._2) &&
          banned.findAllIn(stripped).size == 1))
    assert(hits.isEmpty, hits.mkString("materialization outside Materialize:\n", "\n", ""))
  }

  test("lint: no spark.graft.* session settings in main code") {
    // Operator sizing is a constant or a call argument, never a session
    // conf key that no workload sets.
    val hits = mainSourceHits(""""spark\.graft\.""".r, (_, _) => false)
    assert(hits.isEmpty, hits.mkString("spark.graft.* conf key in main code:\n", "\n", ""))
  }

  test("lint: salt-replicated pair joins only in Similarity.cellPairs and the kNN merge") {
    // The within-cell self-pair join has one implementation; the kNN
    // merge's batch × mates join (newCandidateEdgesAssigned) is the one
    // other salted join. A new copy of the salt replication goes through
    // cellPairs instead.
    val allowed = Set("cellPairs", "newCandidateEdgesAssigned")
    val memberDef = """^  (?:private(?:\[\w+\])? )?def (\w+)""".r
    val hits = mainSources.flatMap { case (rel, lines) =>
      lines.zipWithIndex.collect {
        case (line, i) if line.replaceAll("//.*$", "").contains("explode(lit((0 until") &&
            !line.trim.startsWith("*") =>
          val owner = lines.take(i + 1).reverseIterator
            .flatMap(l => memberDef.findFirstMatchIn(l).map(_.group(1))).nextOption()
          (rel, i, owner)
      }.collect {
        case (rel, i, owner) if !(rel == "graft/operators/Similarity.scala" &&
            owner.exists(allowed)) => s"$rel:${i + 1} in ${owner.getOrElse("?")}"
      }
    }
    assert(hits.isEmpty, hits.mkString("salted pair join outside cellPairs:\n", "\n", ""))
  }

  test("lint: no scaladoc block stacked directly on another in main code") {
    // Scaladoc attaches only the block nearest a def: a block right above
    // another one documents nothing, and its def goes undocumented.
    val hits = mainSources.flatMap { case (rel, lines) =>
      lines.zip(lines.drop(1)).zipWithIndex.collect {
        case ((a, b), i) if a.trim.endsWith("*/") && b.trim.startsWith("/**") =>
          s"$rel:${i + 1}: ${a.trim}"
      }
    }
    assert(hits.isEmpty, hits.mkString("stranded scaladoc block ends at:\n", "\n", ""))
  }
}
