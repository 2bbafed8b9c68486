package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.Kernels

/** Session-extension entry point: every graft kernel as a PERMANENT
  * session function, so a pure-SQL user (spark-sql, JDBC, a notebook with
  * `spark.sql.extensions=graft.GraftExtensions`) reaches the codegen'd
  * vector / sketch / PQ / jaccard kernels without touching the Column API.
  *
  * The in-library Column entry points register the same table into a
  * session's temp registry on their first call there ([[Kernels.call]]),
  * which a session the library never touched does not see; the substrait
  * consumer builds kernels without any registry. This class injects the
  * table at session build, so the names resolve from pure SQL in any
  * session the extension configures.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.registrations.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), builder))
    }
}

object GraftExtensions {
  /** name → builder for every kernel: the [[Kernels]] table. */
  val registrations: Map[String, Kernels.Builder] = Kernels.all
}
