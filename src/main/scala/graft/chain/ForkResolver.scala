package graft.chain

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Fork detection and main-chain resolution (SURVEY.md §2.9 ST3, reference
  * BlockWriter.scala:26-77 + ChainLinker.scala:57-83).
  *
  * Forks are bounded-depth by consensus (the reference retains only 10
  * rollback revisions — MvStorage.scala:298), so resolution mirrors the
  * reference's design: the chain-*tip window* (last ≤`window` heights of
  * headers — a few KB) is collected to the driver and the winning branch is
  * walked back from the best tip in memory, exactly like ChainTip's FIFO;
  * everything below the window is unambiguous. The distributed side then
  * just filters/flags by the winner id set — at table scale that is a
  * partition overwrite of the affected height range, never a rewrite of
  * history.
  */
object ForkResolver {

  /** Block ids NOT on the main chain, resolved from the tip window.
    * Winner tip = max height, lexicographically-smallest id on ties.
    */
  def losingBlockIds(headers: DataFrame, window: Int = 100): Set[String] = {
    val tip = headers
      .select(col("header.id").as("id"), col("header.parentId").as("parentId"),
        col("header.height").as("height"))
      .orderBy(desc("height"), asc("id"))
      .limit(window * 4) // all branches within the window
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    if (tip.isEmpty) return Set.empty
    val byId = tip.map(t => t._1 -> t).toMap
    val best = tip.minBy { case (id, _, h) => (-h, id) }
    // walk back from the best tip; ancestors of the winner are main-chain.
    val winners = Iterator.iterate(Option(best)) {
      case Some((_, parentId, _)) => byId.get(parentId)
      case None => None
    }.takeWhile(_.isDefined).flatten.map(_._1).toSet
    tip.map(_._1).toSet -- winners
  }

  /** The raw stream restricted to the main chain — the input every
    * derivation/cumulative stage expects (SURVEY §7.4 risk 1: sequential
    * semantics are computed only AFTER fork resolution).
    */
  def mainChain(raw: Dataset[RawBlock], window: Int = 100): Dataset[RawBlock] = {
    val losers = losingBlockIds(raw.toDF(), window)
    if (losers.isEmpty) raw
    else raw.filter(!col("header.id").isin(losers.toSeq: _*))
  }
}
