package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SQL registration for the engine's native expressions, making them
  * callable from `spark.sql` text as well as the Column API.
  *
  * One entry point: `class GraftExtensions`, the `spark.sql.extensions`
  * injection point. `graft.Session`'s engine and curation profiles set
  * it, and so can a platform-built session
  * (spark-submit --conf spark.sql.extensions=graft.plans.GraftExtensions).
  */
object GraftFunctions {

  private val fns: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_float_dot" -> { exprs: Seq[Expression] =>
      require(exprs.length == 2, "graft_float_dot(a, b) takes 2 arguments")
      FloatVecDot(exprs.head, exprs(1))
    },
    "graft_float_cosine" -> { exprs: Seq[Expression] =>
      require(exprs.length == 2, "graft_float_cosine(a, b) takes 2 arguments")
      FloatVecCosine(exprs.head, exprs(1))
    },
    // aggregate: the analyzer wraps a bare AggregateFunction in an
    // AggregateExpression when it appears in an aggregation context
    "graft_bottom_k" -> { exprs: Seq[Expression] =>
      require(exprs.length == 2, "graft_bottom_k(value, k) takes 2 arguments")
      val k = exprs(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v, _)
            if v != null => v.toString.toInt
        case other =>
          throw new IllegalArgumentException(
            s"graft_bottom_k k must be a literal, got $other")
      }
      BottomKAgg(exprs.head, k)
    },
    "graft_zorder16" -> { exprs: Seq[Expression] =>
      require(exprs.length == 2, "graft_zorder16(x, y) takes 2 arguments")
      ZOrder16(
        org.apache.spark.sql.catalyst.expressions.Cast(exprs.head,
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.catalyst.expressions.Cast(exprs(1),
          org.apache.spark.sql.types.LongType))
    },
    "graft_misra_gries" -> { exprs: Seq[Expression] =>
      require(exprs.length == 2,
        "graft_misra_gries(value, k) takes 2 arguments")
      val k = exprs(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v, _)
            if v != null => v.toString.toInt
        case other =>
          throw new IllegalArgumentException(
            s"graft_misra_gries k must be a literal, got $other")
      }
      MisraGriesAgg(exprs.head, k)
    })

  private[plans] def injections
      : Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    fns.map { case (name, builder) =>
      (FunctionIdentifier(name),
        new ExpressionInfo(classOf[FloatVecDot].getName, name),
        builder)
    }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.injections.foreach { case (id, info, builder) =>
      ext.injectFunction((id, info, builder))
    }
    ext.injectOptimizerRule(_ => FuseFloatVecDot)
    // Whole-operator extension: the native as-of join's planner
    // strategy (AsOfJoinPlan -> AsOfJoinExec).
    ext.injectPlannerStrategy(_ => AsOfNative.AsOfJoinStrategy)
  }
}
