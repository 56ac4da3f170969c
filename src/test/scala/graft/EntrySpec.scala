package graft

/** The driver's smoke contract: SparkEntry.entry returns rows on sf0.001,
  * and every query has either an oracle or a documented rows-only check. */
class EntrySpec extends SparkSpec {

  test("entry: flagship query returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key names a query and every query has an oracle") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"orphan oracles: ${o -- q}")
    assert((q -- o).isEmpty, s"missing oracles: ${q -- o}")
  }

  test("module query maps are disjoint (a name collision silently drops a query)") {
    import graft.llmdata.{Curation, Dedup, Multimodal, Similarity, TextAnalysis}
    import graft.operators.{CdcQueries, FuzzyMatch}
    import graft.relational.{EventsAnalytics, Relational, SqlSurface}
    val modules = Seq(
      Relational.queries, TextAnalysis.queries, Dedup.queries,
      Similarity.queries, Multimodal.queries, EventsAnalytics.queries,
      SqlSurface.queries, CdcQueries.queries, Curation.queries,
      FuzzyMatch.queries)
    assert(modules.map(_.size).sum == SparkEntry.queries.size,
      "duplicate query name across modules")
  }

  test("no oracle SQL carries init-cycle artifacts — a lowercase 'null' " +
      "or '% 0' means an object-initialization cycle interpolated an " +
      "unassigned constant into a twin (the 7bcaca9 failure mode)") {
    // legit SQL NULL in the twins is uppercase by convention; a baked
    // Scala null/0 interpolates lowercase 'null' / '% 0'
    val bakedNull = "(?<![A-Za-z0-9_])null(?![A-Za-z0-9_])".r
    val bakedZeroMod = "% 0(?![0-9.])".r
    val bad = SparkEntry.oracleSql.toSeq.sortBy(_._1).collect {
      case (name, sql)
        if bakedNull.findFirstIn(sql).isDefined ||
          bakedZeroMod.findFirstIn(sql).isDefined => name
    }
    assert(bad.isEmpty, s"oracle SQL with baked null/zero artifacts: $bad")
  }

  test("gate outputs are scalar atomic columns only — the driver's row " +
      "comparator cannot sort array/map/struct cells (r16: cur16/tx33)") {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        fn(spark, sf()).schema.fields.collect {
          case f if f.dataType.isInstanceOf[ArrayType] ||
            f.dataType.isInstanceOf[MapType] ||
            f.dataType.isInstanceOf[StructType] =>
            s"$name.${f.name}: ${f.dataType.simpleString}"
        }
    }
    assert(offenders.isEmpty,
      s"non-scalar top-level gate columns (render as md5(array_join(..)) " +
        s"or a joined string instead): ${offenders.mkString(", ")}")
  }

  test("all queries run on sf0.001 and return rows") {
    val empty = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (name, fn) =>
      fn(spark, sf()).count() == 0
    }.map(_._1)
    assert(empty.isEmpty, s"queries with empty results at sf0.001: $empty")
  }

  test("sessions are built only through GraftSession — a private builder " +
      "config would let one entry point drift from the oracle settings") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    // one decision, one home: each pattern may appear in exactly one file,
    // once. Assembled at runtime so this file does not match its own
    // patterns.
    val homes = Seq(
      ("SparkSession" + """\s*\.\s*builder""").r -> "GraftSession.scala",
      // the batch_id partition overwrite (CdcPipeline.exactlyOnceBatchWrite)
      ("partitionOverwriteMode" + """"\s*,\s*"dynamic""").r -> "CdcPipeline.scala",
      // every native helper call goes through GraftColumn.staticCall
      ("StaticInvoke" + """\(""").r -> "shim.scala",
      // the merge-table resources are read only by the table module
      ("graft/" + "bpe/").r -> "BpeTable.scala",
      // every checkpoint goes through GraftCheckpoint.pin, the one policy
      ("localCheckpoint" + """\(""").r -> "shim.scala")
    val roots = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"$r not found"))
    val sources = roots.flatMap { root =>
      val walk = Files.walk(root)
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }.map(f => f.getFileName.toString -> Files.readString(f))
    for ((pattern, home) <- homes) {
      val hits = sources.flatMap { case (name, text) =>
        pattern.findAllIn(text).map(_ => name)
      }
      assert(hits == Seq(home), s"'$pattern' outside $home: ${hits.mkString(", ")}")
    }
  }

  test("broadcast hints stay within the recorded budget, each with its " +
      "reason on the line above (join policy: GraftSession)") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val budget = Map("Similarity.scala" -> 8, "Curation.scala" -> 3,
      "Relational.scala" -> 3, "Dedup.scala" -> 1, "CdcEnrich.scala" -> 1)
    val call = """\bbroadcast\(""".r
    val walk = Files.walk(Paths.get("src/main/scala"))
    val files = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val found = files.flatMap { f =>
      val lines = Files.readAllLines(f).asScala.toIndexedSeq
      lines.indices.filter { i =>
        val l = lines(i).trim
        !l.startsWith("//") && !l.startsWith("*") && !l.startsWith("/*") &&
          call.findFirstIn(l).isDefined
      }.map(i => (f.getFileName.toString, i, lines.lift(i - 1).getOrElse("").trim))
    }
    val counts = found.groupBy(_._1).map { case (k, v) => k -> v.size }
    assert(counts == budget, s"broadcast( calls per file: $counts")
    val unexplained = found.filterNot(_._3.startsWith("// hint kept ("))
      .map { case (f, i, _) => s"$f:${i + 1}" }
    assert(unexplained.isEmpty, s"hints without a '// hint kept (<kind>): " +
      s"<reason>' line above: ${unexplained.mkString(", ")}")
  }
}
