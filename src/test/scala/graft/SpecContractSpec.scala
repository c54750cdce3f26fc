package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.core.{CandleSchema, Timeframe}
import graft.lake.LakeLayout
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The engine's analogue of the reference's spec smoke tests (reference:
  * tests/test_specs_smoke.py:3-14): the committed JSON contract
  * (docs/specs/schema_candles.json) and the code constants must agree, so a
  * schema change that forgets one side fails CI instead of silently
  * diverging readers from writers.
  */
class SpecContractSpec extends AnyFunSuite {

  private lazy val spec = new ObjectMapper()
    .readTree(new java.io.File("docs/specs/schema_candles.json"))

  private def strings(field: String): Seq[String] =
    spec.get(field).elements().asScala.map(_.asText()).toSeq

  test("primary key / dedupe key match CandleSchema.key") {
    assert(strings("primary_key") === CandleSchema.key)
    assert(strings("dedupe_on") === CandleSchema.key)
  }

  test("partition columns match LakeLayout and appear in the layout template in order") {
    val cols = strings("partition_columns")
    assert(cols === LakeLayout.partitionCols)
    val layout = spec.get("layout").asText()
    val idxs = Seq("source=", "market=", "timeframe=", "symbol=", "year=", "month=")
      .map(layout.indexOf)
    assert(idxs.forall(_ >= 0) && idxs === idxs.sorted,
      s"layout template out of order: $layout")
  }

  test("properties cover the canonical column order with matching types and nullability") {
    val props = spec.get("properties")
    assert(props.fieldNames().asScala.toSeq === CandleSchema.canonicalOrder,
      "spec property order must BE the canonical order")
    CandleSchema.schema.fields.foreach { f =>
      val p = props.get(f.name)
      assert(p != null, s"spec missing ${f.name}")
      assert(p.get("dtype").asText() === f.dataType.typeName, s"dtype of ${f.name}")
      assert(p.get("nullable").asBoolean() === f.nullable, s"nullability of ${f.name}")
    }
  }

  test("required columns are the non-defaultable core; defaults match enforce()") {
    val required = strings("required")
    assert(required.toSet.subsetOf(CandleSchema.canonicalOrder.toSet))
    // every textual default in the spec is exactly what enforce() applies
    val defaults = spec.get("textual_defaults")
    assert(defaults.fieldNames().asScala.toSeq === CandleSchema.textualDefaults.map(_._1))
    CandleSchema.textualDefaults.foreach { case (c, d) =>
      assert(defaults.get(c).asText() === d, s"default of $c")
    }
  }

  test("every driver query has a DuckDB oracle entry (hard gate, not rows-only)") {
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet,
      "queries and oracleSql must cover the same keys — a missing oracle " +
        "silently downgrades the driver's check to rows-only")
  }

  test("cross-engine rounding contract: the knife-edge cases round the way the oracles assume") {
    // The round-12 post-mortem class: an exact-at-grain-K decimal sum
    // rounded to a COARSER grain J can land exactly on a .5 boundary, where
    // Spark (BigDecimal HALF_UP on the double's shortest decimal repr) and
    // DuckDB (binary-double rounding) legitimately disagree — measured live
    // at sf0.1, q117's window contribution sum was exactly 0.0040785 and
    // the engines split 0.004079 vs 0.004078. The fix was to report at the
    // EXACT grain (klByWindow/sliceDivergence r7, BM25 r6, PageRank r12),
    // where re-rounding is the identity and no half-way case exists. This
    // test pins BOTH halves of that contract against dependency bumps:
    // (a) Spark's half-way behavior is HALF_UP — if an upgrade changes it,
    // every "oracle in lockstep" assumption needs re-auditing; (b) the
    // exact-grain identity the fix relies on actually holds.
    // PLANS.md rule: a rounded reduction must either end in a division/log
    // (measure-zero half-way) or report at the exact grain of its sum.
    val spark = SparkTestSession.spark
    def one(expr: String): String =
      spark.sql(s"SELECT CAST(($expr) AS STRING)").head().getString(0)
    // (a) half-way pins — the post-mortem value, both as the exact decimal
    // sum and as the double a divergent engine would carry
    assert(one("round(CAST(0.0040785 AS DECIMAL(38,7)), 6)") === "0.004079",
      "decimal half-way must round HALF_UP (away from zero)")
    assert(one("round(CAST(-0.0040785 AS DECIMAL(38,7)), 6)") === "-0.004079",
      "negative half-way mirrors (HALF_UP is away-from-zero, not toward +inf)")
    assert(one("round(0.0040785D, 6)") === "0.004079",
      "doubles round via the SHORTEST DECIMAL REPR (0.0040785 prints as the " +
        "half-way case even though the binary double is below it) — the very " +
        "divergence-from-DuckDB the exact-grain rule exists to dodge")
    assert(one("round(2.5D, 0)") === "3.0" && one("round(-2.5D, 0)") === "-3.0",
      "HALF_UP, not banker's rounding")
    // (b) exact-grain identity: rounding a DECIMAL(38,7) at 7 changes
    // nothing — so q113/q117-style reports at the sum's own grain are
    // engine-portable by construction
    assert(one("round(CAST(0.0040785 AS DECIMAL(38,7)), 7)") === "0.0040785")
    assert(one("CAST(round(CAST(1.2345678 AS DECIMAL(38,7)) + CAST(2.0000002 AS DECIMAL(38,7)), 7) AS STRING)")
      === "3.234568", "decimal addition then round-at-grain is exact")
  }

  test("tf alias and default timeframe resolve through the Timeframe vocabulary") {
    val aliases = spec.get("aliases")
    assert(aliases.get("tf").asText() === "timeframe")
    val defaultTf = spec.get("textual_defaults").get("timeframe").asText()
    assert(Timeframe(defaultTf).code === defaultTf)
  }
}
