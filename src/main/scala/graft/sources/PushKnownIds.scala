package graft.sources

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualTo, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{JOIN, LOCAL_RELATION}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.unsafe.types.UTF8String

/** Already-landed keys pushed into a [[MailScan]]: sorted, distinct doc
  * ids per account, where the `None` entry holds for every account.
  */
final case class KnownIds(keys: Map[Option[String], Array[Long]]) {
  import KnownIds.sortedDistinct

  def size: Long = keys.valuesIterator.map(_.length.toLong).sum

  def ++(other: KnownIds): KnownIds =
    if (other.keys.isEmpty) this
    else KnownIds((keys.keySet ++ other.keys.keySet).map { a =>
      a -> sortedDistinct(keys.getOrElse(a, Array.emptyLongArray) ++ other.keys.getOrElse(a, Array.emptyLongArray))
    }.toMap)

  /** The known doc ids of `account` (null in a single-account scan)
    * inside [start, end), sorted — one page range's share of the set.
    */
  def slice(account: String, start: Long, end: Long): Array[Long] = {
    def lowerBound(ids: Array[Long], x: Long): Int = {
      val i = java.util.Arrays.binarySearch(ids, x)
      if (i >= 0) i else -i - 1
    }
    val parts = (keys.get(None) ++ Option(account).flatMap(a => keys.get(Some(a))))
      .map(ids => ids.slice(lowerBound(ids, start), lowerBound(ids, end)))
      .filter(_.nonEmpty)
    if (parts.size <= 1) parts.headOption.getOrElse(Array.emptyLongArray)
    else sortedDistinct(parts.flatten.toArray)
  }
}

object KnownIds {
  val empty: KnownIds = KnownIds(Map.empty[Option[String], Array[Long]])

  /** `ids` sorted in place, then without repeats. */
  def sortedDistinct(ids: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(ids)
    var n = 0
    for (id <- ids) if (n == 0 || ids(n - 1) != id) { ids(n) = id; n += 1 }
    if (n == ids.length) ids else java.util.Arrays.copyOf(ids, n)
  }
}

/** Optimizer rule: drop already-landed ids inside the mail scan, between
  * LIST and GET, as the reference filters each listed page against the
  * sink's `existing_ids` before its 50-id detail fetch (main.py:175).
  *
  * {{{ Join(left, right: LocalRelation, LeftAnti, cond)  =>  left' }}}
  *
  * where `left'` is `left` with the right side's keys pushed into its
  * scan ([[KnownIds]]). The driver-local relation is the Spark form of
  * the reference's `existing_ids` set. It fires only when
  *  - `left` is a chain of deterministic `Project`/`Filter` nodes over
  *    exactly one mail relation (a `DataSourceV2ScanRelation` of a
  *    [[MailScan]] after scan push-down, or the `DataSourceV2Relation`
  *    of a [[MailTable]] before it, where session-extension rules run);
  *  - `cond` is a conjunction of attribute equalities, each between one
  *    of the scan's own `id`, `doc_id` or `account` columns and a column
  *    of the relation, with at least one `id`/`doc_id` key.
  *
  * The rewrite is exact: a right row with a null key matches nothing,
  * an `id` that is not exactly `msg<docId>` cannot equal a generated id,
  * and a row whose keys name different messages or accounts matches
  * nothing — all three push no key. Without an `account` key a row's
  * doc id is known in every account. Poison ids never land, so GET
  * skips do not change. Anything else keeps its `Join`.
  */
object PushKnownIds extends Rule[LogicalPlan] with PredicateHelper {
  private val KeyColumns = Set("id", "doc_id", "account")

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsAllPatterns(JOIN, LOCAL_RELATION)) {
      case j @ Join(left, right: LocalRelation, LeftAnti, Some(cond), _) =>
        (for {
          leaf <- mailLeaf(left)
          keys <- keyColumns(cond, leaf, left, right)
        } yield {
          val known = knownIds(right, keys)
          left.transformUp {
            case l if l eq leaf => l match {
              case s @ DataSourceV2ScanRelation(_, m: MailScan, _, _, _) =>
                s.copy(scan = m.withKnown(known))
              case r: DataSourceV2Relation =>
                r.copy(table = r.table.asInstanceOf[MailTable].withKnown(known))
            }
          }
        }).getOrElse(j)
    }

  /** The one mail relation under a chain of deterministic Project/Filter nodes. */
  private def mailLeaf(p: LogicalPlan): Option[LogicalPlan] = p match {
    case Project(list, child) if list.forall(_.deterministic) => mailLeaf(child)
    case Filter(c, child) if c.deterministic                  => mailLeaf(child)
    case s @ DataSourceV2ScanRelation(_, _: MailScan, _, _, _) => Some(s)
    case r: DataSourceV2Relation if r.table.isInstanceOf[MailTable] => Some(r)
    case _ => None
  }

  /** (scan column name, ordinal in the relation) per conjunct, if every
    * conjunct pairs a scan key column passed through `left` unchanged
    * with a same-typed relation column.
    */
  private def keyColumns(cond: Expression, leaf: LogicalPlan, left: LogicalPlan,
                         right: LocalRelation): Option[Seq[(String, Int)]] = {
    def pair(l: Attribute, r: Attribute): Option[(String, Int)] =
      leaf.output.find(a => a.exprId == l.exprId && KeyColumns(a.name) && left.outputSet.contains(a))
        .flatMap { a =>
          val i = right.output.indexWhere(_.exprId == r.exprId)
          if (i >= 0 && right.output(i).dataType == a.dataType) Some(a.name -> i) else None
        }
    val keys = splitConjunctivePredicates(cond).map {
      case EqualTo(a: Attribute, b: Attribute) => pair(a, b).orElse(pair(b, a))
      case _                                   => None
    }
    if (keys.forall(_.isDefined) && keys.exists(_.exists(_._1 != "account"))) Some(keys.flatten)
    else None
  }

  /** The doc id of an id in its generated form `msg<docId>`, else -1. */
  private def docIdOf(id: UTF8String): Long = {
    val s = id.toString
    if (!s.startsWith("msg")) -1L
    else s.substring(3).toLongOption.filter(v => s == s"msg$v").getOrElse(-1L)
  }

  /** Each relation row's (account, doc id) key; a row with a null key,
    * a foreign id or keys that disagree names no message and is left out.
    */
  private def knownIds(right: LocalRelation, keys: Seq[(String, Int)]): KnownIds = {
    val byAccount = mutable.HashMap.empty[Option[String], mutable.ArrayBuilder.ofLong]
    right.data.foreach { row =>
      var docId = -1L
      var account: Option[String] = None
      var names = true
      for ((column, i) <- keys if names) {
        if (row.isNullAt(i)) names = false
        else if (column == "account") {
          val a = row.getUTF8String(i).toString
          names = account.forall(_ == a)
          account = Some(a)
        } else {
          val d = if (column == "id") docIdOf(row.getUTF8String(i)) else row.getLong(i)
          names = d >= 0 && (docId < 0 || docId == d)
          docId = d
        }
      }
      if (names) byAccount.getOrElseUpdate(account, new mutable.ArrayBuilder.ofLong) += docId
    }
    KnownIds(byAccount.map { case (a, ids) => a -> KnownIds.sortedDistinct(ids.result()) }.toMap)
  }
}
