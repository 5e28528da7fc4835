package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.{GraftExtensions, TextHashOps}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The SparkSessionExtensions wiring: native expressions reachable from
  * pure SQL in a session built with the extension installed. Builds its
  * own session (extensions are constructor-time state), sharing the test
  * JVM's SparkContext; the shared [[graft.SparkTest]] session is
  * restored as default afterwards.
  */
class GraftExtensionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // if this spec runs first its session creates the JVM's SparkContext,
    // whose Hadoop conf every later session shares: register graft.fs
    // here too, or later specs would run on Hadoop's forking `file:`
    graft.fs.LocalFs.sessionConfs
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .master("local[2]")
      .appName("graft-extensions-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
  }

  override def afterAll(): Unit = {
    // clear FIRST: if SparkTest.spark hasn't initialized yet, its lazy
    // getOrCreate must not adopt this spec's extensions session as the
    // JVM-wide shared one
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.setDefaultSession(graft.SparkTest.spark)
    SparkSession.setActiveSession(graft.SparkTest.spark)
    super.afterAll()
  }

  test("fnv64/simhash64/array_dot parse and evaluate as SQL functions") {
    val row = spark.sql(
      """SELECT fnv64('hello') AS h,
        |       simhash64(array(fnv64('a'), fnv64('b'))) AS s,
        |       array_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d""".stripMargin)
      .collect().head
    assert(row.getAs[Long]("h") == TextHashOps.fnv64(UTF8String.fromString("hello")))
    assert(row.getAs[Double]("d") == 11.0)
    // simhash over two hashes keeps exactly the bits both agree on (a
    // one-vote split is a tie, and ties clear the bit) — i.e. bitwise AND
    val (ha, hb) = (TextHashOps.fnv64(UTF8String.fromString("a")),
      TextHashOps.fnv64(UTF8String.fromString("b")))
    assert(row.getAs[Long]("s") == (ha & hb))
  }

  test("cell_argmax picks the max-dot centroid row, ties to the lowest cell") {
    val row = spark.sql(
      """SELECT cell_argmax(array(1.0D, 0.0D),
        |         array(array(0.0D, 1.0D), array(1.0D, 0.0D))) AS c,
        |       cell_argmax(array(1.0D, 0.0D),
        |         array(array(1.0D, 0.0D), array(1.0D, 0.0D))) AS tie,
        |       cell_argmax(array(1.0D, 0.0D),
        |         array(array(1.0D), array(1.0D, 0.0D))) AS badrow""".stripMargin)
      .collect().head
    assert(row.getAs[Int]("c") == 1)
    assert(row.getAs[Int]("tie") == 0)
    assert(row.isNullAt(row.fieldIndex("badrow"))) // length mismatch poisons
  }

  test("cell_argmax poisons to null when every dot product is NaN") {
    // a NaN vector element makes all dots NaN; no cell ever beats -Inf,
    // so the result must be null, never the phantom cell id -1
    val row = spark.sql(
      """SELECT cell_argmax(array(CAST('NaN' AS DOUBLE), 0.0D),
        |         array(array(1.0D, 0.0D), array(0.0D, 1.0D))) AS allnan""".stripMargin)
      .collect().head
    assert(row.isNullAt(row.fieldIndex("allnan")))
  }

  test("sorted_intersect_count evaluates as a SQL function") {
    val row = spark.sql(
      """SELECT sorted_intersect_count(array(1L, 2L, 3L), array(2L, 3L, 5L)) AS c,
        |       sorted_intersect_count(array(1L), CAST(NULL AS ARRAY<BIGINT>)) AS n
        |""".stripMargin).collect().head
    assert(row.getAs[Int]("c") == 2 && row.isNullAt(1))
  }

  test("optimizer rewrites size(array_intersect) of shingle hashes to the sorted merge") {
    // a file-backed source — a LocalRelation would be constant-folded
    // away before the plan assertion could observe the rewrite
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .createOrReplaceTempView("pairs_src")
    // both size semantics: ANSI/non-legacy (size(null) = null) and the
    // lenient legacy mode (size(null) = -1, rewrite wraps in coalesce)
    for (legacy <- Seq(false, true)) {
      spark.conf.set("spark.sql.legacy.sizeOfNull", legacy.toString)
      spark.conf.set("spark.sql.ansi.enabled", (!legacy).toString)
      try {
        val q = spark.sql(
          """SELECT doc_id,
            | size(array_intersect(shingle_hashes(text, 2),
            |   shingle_hashes(CASE WHEN doc_id % 10 = 0 THEN CAST(NULL AS STRING)
            |                       ELSE text END, 2))) AS c,
            | size(shingle_hashes(text, 2)) AS expect
            |FROM pairs_src""".stripMargin)
        // the optimized plan must carry the native expression...
        assert(q.queryExecution.optimizedPlan.toString.contains("sorted_intersect_count"),
          s"legacy=$legacy: expected the rewrite in:\n${q.queryExecution.optimizedPlan}")
        // ...and agree with the generic path: self-intersection equals
        // the set size; a null input propagates per the mode's semantics
        q.collect().foreach { r =>
          if (r.getLong(0) % 10 == 0) {
            if (legacy) assert(r.getInt(1) == -1) else assert(r.isNullAt(1))
          } else assert(r.getInt(1) == r.getInt(2))
        }
      } finally {
        spark.conf.unset("spark.sql.legacy.sizeOfNull")
        spark.conf.unset("spark.sql.ansi.enabled")
      }
    }
  }

  test("rewrite does not fire on arrays that are not provably sorted") {
    val q = spark.sql(
      "SELECT size(array_intersect(array(3L, 1L), array(1L, 2L))) AS c")
    assert(!q.queryExecution.optimizedPlan.toString.contains("sorted_intersect_count"))
    assert(q.collect().head.getInt(0) == 1)
  }

  test("optimizer rewrites array_contains over shingle hashes to binary search") {
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .createOrReplaceTempView("contains_src")
    // probe each doc for one of its own shingles (hit) and for a hash no
    // FNV output equals with overwhelming probability (miss)
    val q = spark.sql(
      """SELECT doc_id,
        | array_contains(shingle_hashes(text, 2),
        |   element_at(shingle_hashes(text, 2), 1)) AS hit,
        | array_contains(shingle_hashes(text, 2), -1L) AS miss,
        | size(shingle_hashes(text, 2)) AS sz
        |FROM contains_src""".stripMargin)
    assert(q.queryExecution.optimizedPlan.toString.contains("sorted_array_contains"),
      s"expected the rewrite in:\n${q.queryExecution.optimizedPlan}")
    q.collect().foreach { r =>
      if (r.getInt(3) > 0) assert(r.getBoolean(1), s"own first shingle missing: $r")
      assert(!r.getBoolean(2), s"phantom hit: $r")
    }
    // negative: an arbitrary sorted-looking array carries no proof
    val generic = spark.sql("SELECT array_contains(array(1L, 2L, 3L), 2L) AS c")
    assert(!generic.queryExecution.optimizedPlan.toString.contains("sorted_array_contains"))
    assert(generic.collect().head.getBoolean(0))
  }

  test("optimizer erases array_distinct over shingle hashes and composes with the merge rewrite") {
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .createOrReplaceTempView("distinct_src")
    val q = spark.sql(
      """SELECT doc_id,
        | size(array_distinct(shingle_hashes(text, 2))) AS defensive,
        | size(shingle_hashes(text, 2)) AS bare,
        | size(array_intersect(array_distinct(shingle_hashes(text, 2)),
        |                      shingle_hashes(text, 2))) AS composed
        |FROM distinct_src""".stripMargin)
    val optimized = q.queryExecution.optimizedPlan.toString
    // the no-op wrapper is gone everywhere...
    assert(!optimized.contains("array_distinct"),
      s"array_distinct survived optimization:\n$optimized")
    // ...and stripping it exposed the ShingleHashes child to the
    // intersect-count rewrite
    assert(optimized.contains("sorted_intersect_count"),
      s"composed rewrite did not fire:\n$optimized")
    q.collect().foreach { r =>
      assert(r.getInt(1) == r.getInt(2))
      assert(r.getInt(3) == r.getInt(2))
    }
    // negative: arbitrary (non-foldable) arrays keep their array_distinct
    val generic = spark.sql(
      "SELECT size(array_distinct(array(doc_id, doc_id))) AS c FROM distinct_src")
    assert(generic.queryExecution.optimizedPlan.toString.contains("array_distinct"))
    assert(generic.collect().forall(_.getInt(0) == 1))
  }

  test("SQL surface parity: simhash signatures via SQL equal the Column pipeline") {
    // the same signature query, once through pure SQL (extensions
    // functions + the optimizer rule's territory) and once through the
    // Column API the query pack uses — identical results prove the two
    // surfaces expose one engine
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .createOrReplaceTempView("docs_sql")
    val viaSql = spark.sql(
      """SELECT doc_id, simhash64(transform(
        |  CASE WHEN length(trim(text)) = 0 THEN array()
        |       ELSE split(trim(text), '\\s+') END,
        |  t -> fnv64(t))) AS simhash
        |FROM docs_sql""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaColumns = graft.operators.Dedup.simHash(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"), "text")
      .select("doc_id", "simhash")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaSql == viaColumns)
  }

  test("SQL form rejects wrong arity") {
    intercept[Exception] { spark.sql("SELECT fnv64('a', 'b')").collect() }
  }

  test("minhash_signature parses over shingle_hashes with a literal k") {
    val sig = spark.sql(
      "SELECT minhash_signature(shingle_hashes('a b c d e', 2), 8) AS s")
      .collect().head.getSeq[Long](0)
    assert(sig.length == 8)
    // a doc with no shingles has a NULL signature (LSH-bucket poison guard)
    assert(spark.sql("SELECT minhash_signature(shingle_hashes('one', 2), 8) AS s")
      .collect().head.isNullAt(0))
  }

  test("vector_avg aggregates from SQL with a literal dim") {
    import spark.implicits._
    Seq((1, Seq(1.0, 3.0)), (1, Seq(3.0, 5.0)), (2, Seq(2.0, 2.0)))
      .toDF("g", "v").createOrReplaceTempView("vecs_src")
    val got = spark.sql("SELECT g, vector_avg(v, 2) AS c FROM vecs_src GROUP BY g")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(got(1) == Seq(2.0, 4.0) && got(2) == Seq(2.0, 2.0))
  }

  test("hyperplane_buckets parses with literal plane/table counts") {
    val b = spark.sql(
      "SELECT hyperplane_buckets(array(0.5D, -1.5D, 2.0D), 5, 3) AS b")
      .collect().head.getSeq[Long](0)
    assert(b.length == 3 && b.forall(x => x >= 0 && x < 32))
    intercept[Exception] {
      spark.sql("SELECT hyperplane_buckets(array(1.0D), 5, CAST(NULL AS INT))").collect()
    }
  }
}
