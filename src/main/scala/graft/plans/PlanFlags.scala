package graft.plans

/** The physical-plan anti-pattern detections shared by the full-surface
  * audit (`graft.PlanAudit`) and the bench-board pin (`HeavyPlanSpec`) —
  * ONE copy, so the round-close audit and the gate test can never
  * silently check different contracts.
  *
  * r15 additions (verdict r14 item 6), all string-level over
  * `executedPlan.toString` so the two consumers stay in lockstep:
  *  - [[noCodegen]]: the plan has NO WholeStageCodegen stage at all —
  *    every operator runs interpreted (legitimate only for plans that
  *    are pure metadata/commands or whose single hot operator is a
  *    sanctioned non-codegen seam like the media mapPartitions codec).
  *  - [[unpushedScanFilter]]: a Filter sits DIRECTLY on a parquet scan
  *    (through ColumnarToRow/InputAdapter) whose `PushedFilters` is
  *    empty — the generalized `q_filter_pushdown` assertion: even
  *    partially-pushable predicates leave a non-empty pushed list, so
  *    an empty one under a direct filter means the scan reads rows the
  *    filter immediately discards (sanctioned only for content-hash /
  *    expression predicates that are inherently unpushable).
  *  - [[corpusBroadcastHint]]: an EXPLICIT broadcast() hint whose hinted
  *    side reads a CORPUS-SIZED fixture table with no Aggregate/Limit
  *    between — a broadcast whose size grows linearly with the corpus,
  *    i.e. a driver/executor OOM at 100 TB (sanctioned only for the
  *    priced %-sampled contrast tiers). Evaluated on the OPTIMIZED
  *    LOGICAL plan, where the hint survives as `…Hint=(strategy=
  *    broadcast)` on the Join — the PHYSICAL BroadcastExchange choice at
  *    sf0.001 is mostly the planner's size-statistics call, which
  *    reverses by itself at real scale and would drown the lint in
  *    false positives (measured: 53 physical flags vs the handful of
  *    real hint-pinned ones).
  *
  * [[normalize]] strips what differs between two plannings of the same
  * code, and [[startExprIds]] fixes the expression ids a query plans
  * from, so PlanAudit's `plan_md5` and ExplainDump's text diff cleanly
  * between runs and checkouts.
  */
object PlanFlags {
  def bnlj(plan: String): Boolean = plan.contains("BroadcastNestedLoopJoin")
  def cartesian(plan: String): Boolean = plan.contains("CartesianProduct")
  def singlePartition(plan: String): Boolean = plan.contains("SinglePartition")

  /** The fixture tables whose size scales with the corpus (the ones a
    * broadcast must never carry unbounded). region/nation/supplier/
    * customer/part are dimension-sized at every SF. */
  val corpusTables: Seq[String] =
    Seq("lineitem", "orders", "events", "documents", "embeddings")

  /** strip the `*(N) ` codegen marker so tree depth = first letter col */
  private def stripCg(l: String): String = l.replaceFirst("\\*\\(\\d+\\) ", "")

  private def nodeDepth(l: String): Int = stripCg(l).indexWhere(_.isLetter)

  def noCodegen(plan: String): Boolean = !plan.contains("*(")

  def unpushedScanFilter(plan: String): Boolean = {
    val lines = plan.linesIterator.toVector
    lines.indices.exists { i =>
      stripCg(lines(i)).dropWhile(!_.isLetter).startsWith("Filter ") && {
        val rest = lines.drop(i + 1).dropWhile { l =>
          val t = stripCg(l).dropWhile(!_.isLetter)
          t.startsWith("ColumnarToRow") || t.startsWith("InputAdapter")
        }
        rest.headOption.exists(l =>
          l.contains("Scan parquet") && l.contains("PushedFilters: []"))
      }
    }
  }

  /** Base-relation signature columns of the corpus-sized tables: on an
    * optimized-logical `Relation [cols…] parquet` line these identify
    * the table (the logical print carries no file path). */
  private val corpusRelationMarkers =
    Seq("l_orderkey", "o_orderkey", "event_id", "doc_id", "vec_id")

  def corpusBroadcastHint(optimized: String): Boolean = {
    val lines = optimized.linesIterator.toVector
    def subtree(i: Int): Vector[String] = {
      val d = nodeDepth(lines(i))
      lines.drop(i + 1).takeWhile(x => { val xd = nodeDepth(x); xd < 0 || xd > d })
    }
    def unboundedCorpus(sub: Vector[String]): Boolean = {
      val corpusLine = sub.indexWhere(x => x.contains("Relation") &&
        corpusRelationMarkers.exists(x.contains))
      corpusLine >= 0 && !sub.take(corpusLine + 1).exists(x =>
        x.contains("Aggregate") || x.contains("GlobalLimit") ||
          x.contains("LocalLimit"))
    }
    lines.indices.exists { i =>
      val l = lines(i)
      l.contains("Hint=(strategy=broadcast") && {
        // children of the Join are the consecutive blocks at childDepth;
        // pick the hinted one(s)
        val sub = subtree(i)
        if (sub.isEmpty) false
        else {
          val childDepth = nodeDepth(sub.head)
          val starts = sub.indices.filter(j => nodeDepth(sub(j)) == childDepth)
          val blocks = starts.zip(starts.drop(1) :+ sub.size).map {
            case (a, b) => sub.slice(a, b)
          }
          val leftHinted = l.contains("leftHint=(strategy=broadcast")
          val rightHinted = l.contains("rightHint=(strategy=broadcast")
          (leftHinted && blocks.headOption.exists(unboundedCorpus)) ||
            (rightHinted && blocks.lastOption.exists(unboundedCorpus))
        }
      }
    }
  }

  /** A plan's text without what varies between two runs of the same
    * code: expression and plan ids, adaptive query-stage and codegen
    * stage numbers (assigned in the order stages materialize), lambda
    * variable suffixes, JVM lambda class names, identity hash codes, RDD
    * ids and the source lines of checkpointed RDDs, temp-directory
    * suffixes and the checkout path. */
  def normalize(plan: String, checkout: String = sys.props("user.dir")): String =
    plan.replace(checkout, "<checkout>")
      .replaceAll("#\\d+", "#")
      .replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("(QueryStage |codegen id : |\\*\\()\\d+", "$1")
      .replaceAll("(lambda \\w+?)_\\d+#", "$1#")
      .replaceAll("\\$Lambda\\$?\\d*/0x[0-9a-f]+", "\\$Lambda")
      .replaceAll("(?<=[\\w$])@[0-9a-f]{1,8}\\b", "@")
      .replaceAll("RDD\\[\\d+\\]", "RDD[]")
      .replaceAll("(\\.scala):\\d+", "$1")
      .replaceAll("(/tmp/[A-Za-z_]+?)\\d{8,}", "$1")

  /** Spark orders some rewrites by the hash of expression ids (the
    * distinct groups of RewriteDistinctAggregates, as in
    * `q_table_stats`), and the ids come from one JVM-wide counter that
    * earlier queries, AQE re-planning among them, advance by a varying
    * amount. Planning the query at sorted registry position `i` from the
    * fixed id `(i + 1) << 24`, above every id already handed out, keeps
    * those orders, and so its normalized plan text, the same between
    * runs. */
  def startExprIds(i: Int): Unit = {
    val base = (i + 1L) << 24
    require(exprIds.get < base, s"expression ids passed $base; widen the per-query id range")
    exprIds.set(base)
  }

  private lazy val exprIds = {
    val f = org.apache.spark.sql.catalyst.expressions.NamedExpression.getClass
      .getDeclaredField("curId")
    f.setAccessible(true)
    f.get(null).asInstanceOf[java.util.concurrent.atomic.AtomicLong]
  }
}
