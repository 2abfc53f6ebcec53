package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Plan-shape regression gate over the ENTIRE query registry — the
  * generalization of PlanSpec's hand-picked assertions. PlanSpec pins
  * ~a dozen load-bearing shapes (broadcast on the as-of join, no
  * SinglePartition under RangeRank, no cross join in m05, ...); every
  * OTHER query's plan is unguarded, so a refactor that silently turns
  * a broadcast join into a sort-merge join — or re-introduces a
  * single-partition exchange — on an unpinned query would only show up
  * as a bench-total drift two rounds later.
  *
  * This main runs every registered query at sf0.001, counts the
  * plan-shape features of the AQE-FINAL physical plan (join
  * strategies, exchanges, SinglePartition occurrences, codegen'd
  * operators), and writes one sorted JSON line per query to committed
  * `PLANS.json`. Like the PROBES.json gate: the fresh file is ALWAYS
  * written (the diff is the review artifact), and the exit code
  * carries the verdict — nonzero when any query present in the
  * committed file changed its fingerprint. Intentional plan changes
  * are adjudicated by committing the new file; new queries gate from
  * their next run.
  *
  * Counts are relative: a SinglePartition from a legitimate global
  * aggregate is recorded, not policed — the gate fires on CHANGE
  * (0 -> 1 on a query that never had one), which is exactly the
  * regression PlanSpec can't see on unpinned queries. Feature counts
  * are taken at sf0.001, where AQE's size-based choices (broadcast
  * thresholds) are at their most generous — so an smj appearing HERE
  * means the plan lost broadcastability outright, not that a
  * threshold moved.
  *
  * Run: `sbt "runMain graft.PlanGate"` (~5 min; streaming/sink queries
  * execute their pipelines to reach a final plan — their fingerprint
  * covers the batch assembly of their result, the streaming micro-batch
  * plans stay covered by StreamingSpec).
  */
object PlanGate {

  /** Counted plan-shape features: name -> regex over one operator's
    * details entry in the formatted plan (its `Name [codegen id : k]`
    * header line, then its arguments, so an Exchange's SinglePartition
    * is visible). Each operator counts once: `exch` counts shuffle,
    * broadcast and reused exchanges, `cg` the codegen'd operators,
    * `single` the operators whose arguments name SinglePartition. */
  val Features: Seq[(String, String)] = Seq(
    "smj" -> "^SortMergeJoin",
    "bhj" -> "^BroadcastHashJoin",
    "shj" -> "^ShuffledHashJoin",
    "bnlj" -> "^BroadcastNestedLoop",
    "cart" -> "^CartesianProduct",
    "exch" -> "^\\w*Exchange",
    "single" -> "SinglePartition",
    "cg" -> "\\[codegen id : \\d+\\]")

  /** An operator's details entry: `(n) Name ...` and its argument
    * lines, up to a blank line, the next entry or a section heading. */
  private val Entry = """(?m)^\((\d+)\) (.*(?:\n(?!\(\d+\) |=|Subquery:).+)*)""".r

  /** An `AdaptiveSparkPlan (a)` line, its `== Final Plan ==` (or
    * `Current Plan`) heading and the final root `(r)` below it. */
  private val FinalSection =
    """(?m)^.*?\((\d+)\).*\n[ +-]*== (?:Final|Current) Plan ==\n.*?\((\d+)\)""".r

  /** Feature counts over the whole AQE-final plan, one per operator,
    * taken from the numbered details entries. Formatted mode numbers an
    * `AdaptiveSparkPlan`'s final plan first (its root last), then the
    * operators only its Initial Plan holds, then the plan node itself.
    * The ids between the final root and the plan node are therefore the
    * Initial Plan's alone, and are skipped: the pre-adaptive plan's
    * operator set legitimately differs (SMJ->BHJ conversion, coalesced
    * exchanges). This holds at every level, including the plan a cached
    * frame's `InMemoryRelation` prints inside the tree, where the tree
    * text's order and indentation do not mark where sections end; so an
    * AQE build-side swap moves no operator in or out of the count. */
  def fingerprint(formatted: String): Seq[(String, Int)] = {
    val initialOnly = FinalSection.findAllMatchIn(formatted)
      .flatMap(m => m.group(2).toInt + 1 until m.group(1).toInt).toSet
    val counted = Entry.findAllMatchIn(formatted)
      .collect { case m if !initialOnly(m.group(1).toInt) => m.group(2) }.toSeq
    Features.map { case (k, re) => k -> counted.count(re.r.findFirstIn(_).isDefined) }
  }

  /** The formatted AQE-final plan of registered query `name` on
    * `sfDir`, run from an empty cache: many queries persist inputs and
    * leave them cached, and a query planned against another one's
    * cached frames gets a plan that depends on which queries ran before
    * it and whether their caches were materialized yet (d03 read exch
    * 5, 4, 4, 4 over repeated runs in one JVM). The query collects
    * first so AQE settles. */
  def finalPlan(spark: SparkSession, name: String, sfDir: String): String = {
    spark.catalog.clearCache()
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.collect()
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  def line(q: String, fp: Seq[(String, Int)]): String =
    fp.map { case (k, v) => s""""$k":$v""" }
      .mkString(s"""{"q":"$q",""", ",", "}")

  /** Parse a PLANS.json text into query -> feature counts. */
  def parse(text: String): Map[String, Map[String, Int]] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.parseOpt
    text.split("\n").toSeq.filter(_.trim.nonEmpty).flatMap { l =>
      parseOpt(l).collect { case JObject(fs) =>
        val m = fs.toMap
        m.get("q").collect { case JString(q) =>
          q -> m.collect { case (k, JInt(v)) if k != "q" => k -> v.toInt }
        }
      }.flatten
    }.toMap
  }

  /** Gating differences: any feature-count change (or an error
    * sentinel appearing) on a query present in BOTH files. Added and
    * removed queries are the verify gate's jurisdiction, not a plan
    * regression — they are not findings here. */
  def diff(oldText: String, newText: String): Seq[String] = {
    val o = parse(oldText)
    parse(newText).toSeq.sortBy(_._1).flatMap { case (q, fp) =>
      o.get(q).toSeq.flatMap { ofp =>
        (ofp.keySet ++ fp.keySet).toSeq.sorted.flatMap { k =>
          val (ov, nv) = (ofp.getOrElse(k, 0), fp.getOrElse(k, 0))
          if (ov != nv) Some(s"$q: $k $ov -> $nv") else None
        }
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Sessions.local(Sessions.cpus(8))

    val rows = SparkEntry.queries.keys.toSeq.sorted.map { n =>
      val fp = try fingerprint(finalPlan(spark, n, sfDir))
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[plangate] $n ERROR ${e.getClass.getSimpleName}")
        Seq("err" -> 1)
      }
      line(n, fp)
    }

    val file = sys.props.getOrElse("graft.plans.file", "PLANS.json")
    val path = Paths.get(file)
    val old =
      if (Files.exists(path))
        new String(Files.readAllBytes(path), StandardCharsets.UTF_8)
      else ""
    val fresh = rows.mkString("", "\n", "\n")
    Files.write(path, fresh.getBytes(StandardCharsets.UTF_8))

    val findings = diff(old, fresh)
    spark.stop()
    if (findings.nonEmpty) {
      findings.foreach(f =>
        System.err.println(s"[plangate] PLAN CHANGE vs committed PLANS.json: $f"))
      sys.exit(1)
    }
  }
}
