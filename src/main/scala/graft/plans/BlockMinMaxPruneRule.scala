package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

import graft.functions.{GraftDecode, GraftDecodeStr}

/**
 * Predicate pushdown onto codec metadata (BASELINE.json north_star: "SQL queries can
 * predicate-push onto dictionary and FoR metadata without full decompression").
 *
 * Block tables written by the encode job carry per-block metadata columns:
 *  - `block_min`/`block_max` (nullable long): FoR bounds of integer blocks
 *  - `block_dict` (nullable array<long>): every distinct value, when cardinality
 *    is small (dictionary-codec metadata)
 *  - `block_str_min`/`block_str_max` (nullable string): bounds for string blocks
 *    (emitted only when the bound value is short enough to store — null = no bound)
 *  - `block_str_dict` (nullable array<string>): distinct strings of low-cardinality
 *    string blocks (e.g. `lang`)
 *
 * For a filter conjunct of the shape `array_contains(graft_decode(encoded), lit)`
 * (or `graft_decode_str`), this rule conjoins the matching metadata bounds ahead of
 * it, so a block whose bounds exclude the literal fails the cheap conjunct and
 * `And` skips its decode. The block view (`DecodeJob.blocks`, a
 * `NativeBlocksRelation`) applies only `column` filters and still reads every
 * selected block: the conjuncts save decode work, not I/O.
 *
 * Soundness: every added conjunct is null-safe — a null bound (missing metadata)
 * passes via IsNull, so the rewrite is purely pruning (value ∈ block ⇒ value within
 * bounds / in dict). The rewrite only fires when the decode argument is the block
 * table's companion `encoded` attribute AND the metadata columns come from the same
 * leaf relation — metadata of one table never prunes blocks of another, and renamed
 * columns disable the rule rather than mis-prune.
 */
object BlockMinMaxPruneRule extends Rule[LogicalPlan] with PredicateHelper {

  private def literalLong(e: Expression): Option[Long] = e match {
    case Literal(v: Long, LongType) => Some(v)
    case Literal(v: Int, IntegerType) => Some(v.toLong)
    case _ => None
  }

  /** Null-safe containment bound: pass when any bound is null, else min<=v<=max. */
  private def rangeConjunct(mn: Attribute, mx: Attribute, v: Literal): Expression =
    Or(Or(IsNull(mn), IsNull(mx)),
      And(LessThanOrEqual(mn, v), GreaterThanOrEqual(mx, v)))

  /** Null-safe dictionary membership: non-dict blocks (null dict) pass. */
  private def dictConjunct(d: Attribute, v: Literal): Expression =
    Or(IsNull(d), ArrayContains(d, v))

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val out = child.output
      if (!out.exists(a => a.name.equalsIgnoreCase("block_min") ||
          a.name.equalsIgnoreCase("block_dict") ||
          a.name.equalsIgnoreCase("block_str_min") ||
          a.name.equalsIgnoreCase("block_str_dict"))) f
      else {
        // the metadata must describe the decoded column's own blocks, so it is
        // resolved RELATIVE to the encoded attribute's leaf relation (a
        // find-first-by-name over a join's output could bind the OTHER table's
        // metadata, fail the relation check, and silently lose pruning for the
        // second table even though its own metadata was present)
        val leaves = child.collectLeaves()
        def metaFor(enc: Attribute, name: String): Option[Attribute] =
          leaves.find(_.outputSet.contains(enc)).flatMap(l =>
            out.find(a => a.name.equalsIgnoreCase(name) && l.outputSet.contains(a)))

        val conjuncts = splitConjunctivePredicates(cond)
        val extra = conjuncts.flatMap {
          case ArrayContains(GraftDecode(enc: AttributeReference), lit)
              if enc.name.equalsIgnoreCase("encoded") =>
            literalLong(lit).toSeq.flatMap { v =>
              val range = for {
                mn <- metaFor(enc, "block_min"); mx <- metaFor(enc, "block_max")
              } yield rangeConjunct(mn, mx, Literal(v))
              val dict = metaFor(enc, "block_dict").map(d => dictConjunct(d, Literal(v)))
              range.toSeq ++ dict.toSeq
            }

          case ArrayContains(GraftDecodeStr(enc: AttributeReference), l @ Literal(s, StringType))
              if s != null && enc.name.equalsIgnoreCase("encoded") =>
            val range = for {
              mn <- metaFor(enc, "block_str_min"); mx <- metaFor(enc, "block_str_max")
            } yield rangeConjunct(mn, mx, l)
            val dict = metaFor(enc, "block_str_dict").map(d => dictConjunct(d, l))
            range.toSeq ++ dict.toSeq

          case _ => Nil
        }.filterNot(e => conjuncts.exists(_.semanticEquals(e)))
        if (extra.isEmpty) f
        // PREPEND the cheap metadata conjuncts: And evaluates left-to-right, so a
        // metadata miss short-circuits before the original predicate decompresses
        // the block
        else Filter(extra.foldRight(cond)((e, acc) => And(e, acc)), child)
      }
  }
}
