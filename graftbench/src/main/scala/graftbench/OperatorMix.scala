package graftbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkEntry

/** The registry rows behind the operator layers: basket lift, n-gram
  * near-dups, IVF compaction, a saved IVF-PQ index, PageRank, triangle
  * counts and manifest deletes. They run on a small fixture the harness
  * writes itself (`lineitem`, `documents`, `embeddings`, shaped like
  * the sf0.001 test data), so a program change cannot change the
  * inputs. The fixture has a fixed seed; `--seed` only orders the rows.
  * Each row's collected result is checked against a fingerprint
  * pinned on this fixture. */
object OperatorMix {

  val rows: Vector[String] = Vector("q50_basket_lift", "d09_ngram_jaccard_near_dups",
    "v14_ivf_compact", "v16_ivfpq_saved", "g01_pagerank", "g02_triangle_counts",
    "w02_delete_manifest")

  /** (row count, order-insensitive hash) of each row's result on the
    * fixture, recorded when the benchmark was introduced. */
  val pinned: Map[String, (Long, Long)] = Map(
    "q50_basket_lift" -> ((50L, 3912071712952089854L)),
    "d09_ngram_jaccard_near_dups" -> ((40L, 8307311855798664461L)),
    "v14_ivf_compact" -> ((250L, 5605965461618264005L)),
    "v16_ivfpq_saved" -> ((250L, 6036887471449611949L)),
    "g01_pagerank" -> ((100L, -4948643735335746153L)),
    "g02_triangle_counts" -> ((200L, 8358730287925876896L)),
    "w02_delete_manifest" -> ((1L, 8388417631061723419L)))

  private val fixtureSeed = 20240611L
  private val orders = 1500
  private val parts = 200
  private val suppliers = 10
  private val docs = 500
  private val vectors = 500
  private val dims = 64
  private val clusters = 10
  private val words = Vector("the", "a", "fast", "slow", "big", "small", "key", "value", "order",
    "line", "part", "customer", "sort", "hash", "join", "merge", "scan", "filter", "group", "agg",
    "window", "table", "column", "row", "data", "query", "batch", "stream", "spark", "vector",
    "dup")

  private val lineitemSchema = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  private val documentsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  private val embeddingsSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Fixture rows by table name; the same every call. */
  def fixture: Map[String, (StructType, Vector[Row])] = {
    val master = new SplittableRandom(fixtureSeed)
    val li = {
      val rnd = master.split()
      val day0 = 788918400L // 1995-01-01
      (0 until orders).toVector.flatMap { o =>
        val lines = 1 + rnd.nextInt(7)
        (1 to lines).map { n =>
          val qty = (1 + rnd.nextInt(50)).toDouble
          val price = math.round(qty * (900 + rnd.nextInt(1200)) * 100) / 100.0
          Row(o.toLong, rnd.nextInt(parts).toLong, rnd.nextInt(suppliers).toLong, n, qty, price,
            rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0, Seq("A", "N", "R")(rnd.nextInt(3)),
            Seq("F", "O")(rnd.nextInt(2)),
            new Timestamp((day0 + 86400L * rnd.nextInt(2500)) * 1000))
        }
      }
    }
    val documents = {
      val rnd = master.split()
      (0 until docs).toVector.map { d =>
        val text = Vector.fill(10 + rnd.nextInt(90))(words(rnd.nextInt(words.size))).mkString(" ")
        Row(d.toLong, text, Seq("en", "de", "es", "zh")(rnd.nextInt(4)), s"src${d % 5}",
          text.length.toLong)
      }
    }
    val embeddings = {
      val rnd = master.split()
      val centers = Vector.fill(clusters, dims)(rnd.nextDouble() * 2 - 1)
      (0 until vectors).toVector.map { v =>
        val label = rnd.nextInt(clusters)
        val vec = centers(label).map(c => (c * 0.2 + (rnd.nextDouble() * 2 - 1) * 0.1).toFloat)
        Row(v.toLong, vec, label)
      }
    }
    Map("lineitem" -> (lineitemSchema -> li), "documents" -> (documentsSchema -> documents),
      "embeddings" -> (embeddingsSchema -> embeddings))
  }

  /** Write the fixture as one parquet file per table under `dir`. */
  def writeFixture(spark: SparkSession, dir: String): Unit =
    fixture.foreach { case (name, (schema, rs)) =>
      spark.createDataFrame(spark.sparkContext.parallelize(rs, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }

  /** Run one registry row on the fixture from a clean slate (no
    * memoized inputs, nothing cached) and collect its result. */
  def run(spark: SparkSession, row: String, dir: String): Array[Row] = {
    SparkEntry.resetMemos()
    spark.catalog.clearCache()
    (SparkEntry.queries ++ SparkEntry.benchOnly)(row)(spark, dir).collect()
  }

  /** (count, order-insensitive hash) of a collected result. */
  def fingerprint(result: Array[Row]): (Long, Long) =
    (result.length.toLong, result.iterator.map(r => Expected.hash64(canonical(r))).sum)

  private def canonical(x: Any): String = x match {
    case null => "null"
    case r: Row => r.toSeq.map(canonical).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canonical).mkString("[", ",", "]")
    case t: Timestamp => t.getTime.toString
    case other => other.toString
  }
}
