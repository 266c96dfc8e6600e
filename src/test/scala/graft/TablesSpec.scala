package graft

import org.apache.spark.sql.types.{LongType, TimestampNTZType}
import org.scalatest.funsuite.AnyFunSuite
import graft.io.Tables

/** `Tables` reads every fixture with a declared schema instead of the
  * parquet footer's. A declared column the footer lacks would read as
  * all nulls and a mistyped one would fail at scan time, so the
  * declarations are pinned to the footers (names, types, order,
  * nullability) at every fixture scale factor and in every adversarial
  * world the input specs write: a fixture or world that drifts fails
  * here, loudly. */
class TablesSpec extends AnyFunSuite {
  lazy val spark = SparkSpec.session

  /** Mismatching tables of `dir`, each with declared and footer schema. */
  private def drift(dir: String): Seq[String] = {
    // the events probe also sets nanosAsLong, without which Spark
    // refuses to read a NANOS-flavor footer at all
    val tsType = Tables.eventsTsType(spark, dir)
    Tables.names.flatMap { n =>
      val footer = spark.read.parquet(s"$dir/$n.parquet").schema
      val declared =
        if (n == "events") Tables.eventsSchema(tsType) else Tables.schema(n)
      if (declared == footer) None
      else Some(s"$n: declared ${declared.toDDL} but footer ${footer.toDDL}")
    }
  }

  private def inTempDir[T](tag: String)(f: String => T): T = {
    val root = java.nio.file.Files.createTempDirectory(s"graft_tables_$tag")
    def rm(file: java.io.File): Unit = {
      val kids = file.listFiles(); if (kids != null) kids.foreach(rm)
      file.delete(); ()
    }
    try f(root.toString) finally rm(root.toFile)
  }

  Seq("sf0.001", "sf0.01", "sf0.1").foreach { sf =>
    test(s"declared schemas equal the parquet footers at $sf") {
      val dir = s"${new java.io.File(SparkSpec.sfDir).getParent}/$sf"
      val drifted = drift(dir)
      assert(drifted.isEmpty, drifted.mkString("\n"))
      // events.ts is the one probed column: raw nanos or a timestamp
      val ts = Tables.eventsTsType(spark, dir)
      assert(ts == LongType || ts == TimestampNTZType, ts)
    }
  }

  test("declared schemas equal the footers of every adversarial world") {
    import graft.tools._
    val worlds: Seq[(String, (String, String) => Unit)] = Seq(
      "null" -> (NullWorld.write(spark, _, _)),
      "empty" -> (EmptyWorld.write(spark, _, _, NullWorld.tables.toSet)),
      "orphan" -> (OrphanWorld.write(spark, _, _)),
      "numerics" -> (NumericsWorld.write(spark, _, _)),
      "nonfinite" -> (NonFiniteWorld.write(spark, _, _)),
      "tie" -> (TieWorld.write(spark, _, _)),
      "unicode" -> (UnicodeWorld.write(spark, _, _)),
      "skew" -> (SkewWorld.write(spark, _, _)),
      "layout" -> (LayoutWorld.write(spark, _, _)))
    val drifted = worlds.flatMap { case (tag, write) =>
      inTempDir(tag) { dir =>
        write(SparkSpec.sfDir, dir)
        drift(dir).map(d => s"$tag world: $d")
      }
    }
    assert(drifted.isEmpty, drifted.mkString("\n"))
  }
}
