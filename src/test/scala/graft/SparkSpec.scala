package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Rows of a single-var result as a sorted list of lexical values. */
  def lex(df: DataFrame, col: String): Seq[String] =
    df.select(s"$col.v").collect().map(r => Option(r.getString(0)).getOrElse("∅")).toSeq.sorted

  def rows(df: DataFrame, cols: String*): Set[Seq[String]] =
    df.select(cols.map(c => org.apache.spark.sql.functions.col(s"$c.v")): _*)
      .collect().map(_.toSeq.map(x => if (x == null) "∅" else x.toString)).toSet

  /** Runs `f` with the given system properties set, restoring them after. */
  def withProps[T](props: (String, String)*)(f: => T): T = {
    val old = props.map { case (k, _) => k -> sys.props.get(k) }
    props.foreach { case (k, v) => sys.props(k) = v }
    try f
    finally old.foreach {
      case (k, Some(v)) => sys.props(k) = v
      case (k, None) => sys.props.remove(k)
    }
  }

  /** Runs `f` twice: at the default [[graft.ops.LocalGraph]] gate, where
    * small graphs take the local path, and with the gate at 0, where every
    * size-gated operator takes its distributed path. Memoised closures and
    * indexes are cleared before each run. Asserts the two results agree
    * and returns the local one. */
  def onBothPaths[T](f: => T, agree: (T, T) => Boolean = (a: T, b: T) => a == b): T = {
    graft.ops.IndexCache.clearAll()
    val local = f
    val distributed = withProps(graft.ops.LocalGraph.MaxBytesProp -> "0") {
      graft.ops.IndexCache.clearAll()
      f
    }
    assert(agree(local, distributed), s"local path: $local\ndistributed path: $distributed")
    local
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // NestedColumnAliasing's semanticEquals dedup is quadratic in the
      // number of struct-field extractions; dynamic-kind term expressions
      // (big CASE ladders over {t,v,dt,lang,num} structs) push it to minutes
      // of driver CPU per query. Our parquet layouts are flat relational
      // columns (term structs are CONSTRUCTED, never read nested), so the
      // rule buys nothing here.
      .config("spark.sql.optimizer.expression.nestedPruning.enabled", "false")
      .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
