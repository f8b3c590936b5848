package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL registration for the engine's native expressions, so `spark.sql`
  * users get them as first-class functions:
  *
  *   SELECT graft_dot(a.emb, b.emb) FROM ...
  *   SELECT graft_fingerprint(split(text, ' ')) FROM docs
  *
  * Registered directly on a session's FunctionRegistry, so it also works
  * on an already-built session. */
object GraftFunctions {
  private val fns: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" -> { args =>
      require(args.length == 2, "graft_dot(arrayA, arrayB)")
      DotProduct(args(0), args(1))
    },
    "graft_fingerprint" -> { args =>
      require(args.length == 1, "graft_fingerprint(tokenArray)")
      Fingerprint(args(0))
    },
    "graft_max_run_count" -> { args =>
      require(args.length == 1, "graft_max_run_count(stringArray)")
      MaxRunCount(args(0))
    },
    "graft_token_entropy" -> { args =>
      require(args.length == 1, "graft_token_entropy(tokenArray)")
      TokenEntropy(args(0))
    },
    "graft_zorder" -> { args =>
      require(args.length == 3, "graft_zorder(x, y, bits)")
      val bits = args(2) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) =>
          v.toInt
        case other => throw new IllegalArgumentException(
          s"graft_zorder bits must be an integer literal, got $other")
      }
      MortonInterleave(
        org.apache.spark.sql.catalyst.expressions.Cast(args(0),
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.catalyst.expressions.Cast(args(1),
          org.apache.spark.sql.types.LongType), bits)
    })

  def register(spark: SparkSession): Unit = fns.foreach { case (name, builder) =>
    spark.sessionState.functionRegistry.registerFunction(FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftFunctions].getName, name), builder)
  }
}

/** Class token for ExpressionInfo's className slot. */
class GraftFunctions
