package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Machine-enforced output-schema contract for the driver harness.
  *
  * The round-9 postmortem: 14 queries shipped `DECIMAL(38,0)` FINAL
  * columns and every one hash-failed the driver's cross-engine compare
  * while matching rows and schema — Spark and DuckDB canonicalize
  * decimal values differently, and the divergence is invisible to any
  * local gate that reads both sides through one engine. The Fx rule
  * ("accumulate in exact DECIMAL, convert once at the end") therefore
  * has a hard corollary: the converted-to FINAL type must be a
  * BIGINT/DOUBLE/STRING-class type, never a decimal. This spec walks
  * every `SparkEntry.queries` result schema (nested types included) at
  * sf0.001 and fails on any DecimalType, so the class cannot recur.
  */
class StructuralSpec extends AnyFunSuite {
  import TestSpark._

  private def decimalsIn(dt: DataType, path: String): Seq[String] =
    dt match {
      case d: DecimalType => Seq(s"$path: $d")
      case s: StructType =>
        s.fields.toSeq.flatMap(f => decimalsIn(f.dataType, s"$path.${f.name}"))
      case a: ArrayType => decimalsIn(a.elementType, s"$path[]")
      case m: MapType =>
        decimalsIn(m.keyType, s"$path<key>") ++
          decimalsIn(m.valueType, s"$path<value>")
      case _ => Nil
    }

  test("no DecimalType in any SparkEntry query's FINAL schema") {
    MllibArtifact.path // als_factors_topk reads the saved mllib model
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val schema =
          try fn(spark, sf).schema
          catch {
            case e: Throwable =>
              fail(s"$name failed to build at sf0.001: ${e.getMessage}")
          }
        schema.fields.toSeq.flatMap(f =>
          decimalsIn(f.dataType, s"$name.${f.name}"))
    }
    assert(offenders.isEmpty,
      "decimal FINAL columns (cross-engine hash hazard — convert the " +
        "exact-decimal accumulator to BIGINT/DOUBLE at the end):\n" +
        offenders.mkString("\n"))
  }
}
