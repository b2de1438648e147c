package graft.ops

import graft.Fixtures
import graft.functions.UpcCheckDigit
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2.G — scalar function surface: string / regex / date / math /
  * array / generator / JSON / map, plus the domain check digit (GS1 UPC-A,
  * the shared `UpcCheckDigit` kernel).
  *
  * No UDFs: built-in Catalyst expressions plus the kernel's codegen
  * expression. Oracle parity notes: DuckDB's length/year/len return
  * BIGINT where Spark returns INT (cast on the oracle side);
  * regexp_replace needs the 'g' flag in DuckDB to match Spark's replace-all;
  * libm-dependent functions (ln) are compared via floor(x*1e6+0.5) scaling.
  */
object Scalars {
  private val jsonKSchema = StructType(Seq(StructField("k", IntegerType)))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // String normalization surface over part names/brands.
    "q_str_funcs" -> { (s, dir) =>
      Fixtures
        .table(s, dir, "part")
        .select(
          col("p_partkey"),
          upper(col("p_name")).as("u_name"),
          lower(col("p_brand")).as("l_brand"),
          trim(col("p_type")).as("t_type"),
          substring(col("p_name"), 1, 5).as("name5"),
          concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
          lpad(col("p_partkey").cast("string"), 8, "0").as("key8"),
          length(col("p_name")).as("name_len"),
          expr("replace(p_name, ' ', '_')").as("repl"),
          split(col("p_name"), " ").getItem(0).as("tok0"))
        .orderBy("p_partkey")
    },
    // Regex extraction / replacement / matching (RE2-simple subset).
    "q_regex" -> { (s, dir) =>
      Fixtures
        .table(s, dir, "part")
        .select(
          col("p_partkey"),
          regexp_extract(col("p_type"), "^(\\w+)", 1).as("first_word"),
          regexp_replace(col("p_name"), "[aeiou]", "*").as("novowels"),
          col("p_type").rlike("COPPER$").as("is_copper"))
        .orderBy("p_partkey")
    },
    // Fuzzy matching: edit-distance self-join over the 25 distinct p_type
    // strings — the dedup primitive for near-identical catalog values
    // (typo'd brands, OCR'd labels). Exact all-pairs is fine on a distinct
    // value domain (the usual case: dedupe the dimension, not the fact
    // table); at 100 TB over raw strings the blocking/banding patterns of
    // the near-dup family (q_minhash_pairs et al.) bound the candidates.
    "q_fuzzy_match" -> { (s, dir) =>
      val t = Fixtures.table(s, dir, "part").select(col("p_type")).distinct()
      val a = t.select(col("p_type").as("a_type"))
      val b = t.select(col("p_type").as("b_type"))
      a.join(b, col("a_type") < col("b_type"))
        .withColumn("dist", levenshtein(col("a_type"), col("b_type")))
        .filter(col("dist") <= 10)
        .orderBy("a_type", "b_type")
    },
    // Datetime surface over the NTZ order dates.
    "q_date_funcs" -> { (s, dir) =>
      Fixtures
        .table(s, dir, "orders")
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("yr"),
          quarter(col("o_orderdate")).as("qtr"),
          month(col("o_orderdate")).as("mo"),
          dayofmonth(col("o_orderdate")).as("dom"),
          date_trunc("month", col("o_orderdate")).as("mstart"),
          datediff(lit("2000-01-01").cast("date"), col("o_orderdate").cast("date"))
            .as("days_to_2000"),
          add_months(col("o_orderdate").cast("date"), 3).as("plus3m"),
          last_day(col("o_orderdate").cast("date")).as("mend"))
        .orderBy("o_orderkey")
    },
    // Math surface. sqrt is IEEE-correctly-rounded (safe); ln is libm
    // (1-ulp engine differences) so both go through e6 integer scaling.
    "q_math_funcs" -> { (s, dir) =>
      Fixtures
        .table(s, dir, "part")
        .select(
          col("p_partkey"),
          ceil(col("p_retailprice")).as("c"),
          floor(col("p_retailprice")).as("f"),
          abs(col("p_retailprice") - 1000).as("a"),
          floor(sqrt(col("p_retailprice")) * 1e6 + lit(0.5)).cast("long").as("sqrt_e6"),
          floor(log(col("p_retailprice")) * 1e6 + lit(0.5)).cast("long").as("ln_e6"),
          pmod(col("p_partkey"), lit(7)).cast("int").as("m7"),
          signum(col("p_retailprice") - 1000).cast("int").as("sgn"))
        .orderBy("p_partkey")
    },
    // The reference's domain object: synthesize UPC-12 from partkey with the
    // check-digit kernel UpcSkuLoad uses, validate it, and validate a
    // corrupted copy (last digit bumped) to prove the check actually checks.
    "q_upc_checkdigit" -> { (s, dir) =>
      // a string that is not 12 digits is not a valid UPC (never null)
      def valid(upc: Column): Column = coalesce(UpcCheckDigit.weightedSumCol(upc, 12) % 10 === 0, lit(false))
      Fixtures
        .table(s, dir, "part")
        .withColumn("upc12", UpcCheckDigit.upcCol(col("p_partkey")))
        .select(
          col("p_partkey"),
          col("upc12"),
          substring(col("upc12"), 12, 1).cast("int").as("cd"),
          valid(col("upc12")).as("valid_ok"),
          valid(
            concat(
              substring(col("upc12"), 1, 11),
              ((substring(col("upc12"), 12, 1).cast("int") + 1) % 10).cast("string")))
            .as("valid_bad"))
        .orderBy("p_partkey")
    },
    // Array surface over the 64-d embeddings: size/element_at/slice plus the
    // higher-order transform/filter/aggregate trio. The fold accumulates
    // double(x) sequentially — mirrored exactly by the DuckDB list_reduce.
    // Array-valued results leave the query serialized (e6-int CSV): the
    // driver's comparator cannot sort raw array cells (unhashable ndarray),
    // so every collection column is flattened to a scalar at the boundary.
    "q_array_funcs" -> { (s, dir) =>
      val e6f = (c: Column) => floor(c.cast("double") * 1e6 + lit(0.5)).cast("long")
      Fixtures
        .table(s, dir, "embeddings")
        .select(
          col("vec_id"),
          size(col("embedding")).as("n_dims"),
          e6f(element_at(col("embedding"), 1)).as("first_e6"),
          concat_ws(",", transform(slice(col("embedding"), 1, 3), x => e6f(x).cast("string")))
            .as("head3"),
          concat_ws(
            ",",
            transform(
              col("embedding"),
              x => floor(x.cast("double") * 2e6 + lit(0.5)).cast("long").cast("string")))
            .as("doubled_e6"),
          size(filter(col("embedding"), x => x > 0)).as("n_pos"),
          floor(
            aggregate(col("embedding"), lit(0.0), (acc, x) => acc + x.cast("double")) * 1e6 +
              lit(0.5)).cast("long").as("sum_e6"))
        .orderBy("vec_id")
    },
    // Generator surface: explode tokens, then aggregate for a total order.
    "q_explode_tokens" -> { (s, dir) =>
      Fixtures
        .table(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy("doc_id", "tok")
        .agg(count(lit(1)).as("n"))
        .orderBy("doc_id", "tok")
    },
    // JSON surface: path extraction, schema-full from_json, json_tuple.
    "q_json_funcs" -> { (s, dir) =>
      Fixtures
        .events(s, dir)
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k_path"),
          from_json(col("props"), jsonKSchema).getField("k").as("k_struct"),
          json_tuple(col("props"), "k"))
        .withColumn("k_tuple", col("c0").cast("int"))
        .drop("c0")
        .orderBy("event_id")
    },
    // Map surface: JSON → MapType, keys/values/element_at. Key/value arrays
    // leave as ','-joined strings (driver comparator can't sort array cells);
    // props is always a single-key {"k": int} object, so the oracle twin is
    // scalar json extraction.
    "q_map_funcs" -> { (s, dir) =>
      Fixtures
        .events(s, dir)
        .withColumn("m", from_json(col("props"), MapType(StringType, IntegerType)))
        .select(
          col("event_id"),
          concat_ws(",", map_keys(col("m"))).as("ks"),
          concat_ws(",", transform(map_values(col("m")), v => v.cast("string"))).as("vs"),
          element_at(col("m"), "k").as("kval"))
        .orderBy("event_id")
    }
  )

  val oracle: Map[String, String] = Map(
    "q_str_funcs" ->
      "SELECT p_partkey, upper(p_name) AS u_name, lower(p_brand) AS l_brand, trim(p_type) AS t_type, substring(p_name,1,5) AS name5, concat_ws('-', p_brand, p_type) AS brand_type, lpad(CAST(p_partkey AS VARCHAR),8,'0') AS key8, CAST(length(p_name) AS INT) AS name_len, replace(p_name,' ','_') AS repl, string_split(p_name,' ')[1] AS tok0 FROM part ORDER BY p_partkey",
    "q_regex" ->
      "SELECT p_partkey, regexp_extract(p_type, '^(\\w+)', 1) AS first_word, regexp_replace(p_name, '[aeiou]', '*', 'g') AS novowels, regexp_matches(p_type, 'COPPER$') AS is_copper FROM part ORDER BY p_partkey",
    "q_fuzzy_match" ->
      "WITH t AS (SELECT DISTINCT p_type FROM part) SELECT a.p_type AS a_type, b.p_type AS b_type, CAST(levenshtein(a.p_type, b.p_type) AS INT) AS dist FROM t a JOIN t b ON a.p_type < b.p_type WHERE levenshtein(a.p_type, b.p_type) <= 10 ORDER BY a_type, b_type",
    "q_date_funcs" ->
      "SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS yr, CAST(quarter(o_orderdate) AS INT) AS qtr, CAST(month(o_orderdate) AS INT) AS mo, CAST(day(o_orderdate) AS INT) AS dom, date_trunc('month', o_orderdate) AS mstart, CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS INT) AS days_to_2000, CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus3m, last_day(CAST(o_orderdate AS DATE)) AS mend FROM orders ORDER BY o_orderkey",
    "q_math_funcs" ->
      "SELECT p_partkey, CAST(ceil(p_retailprice) AS BIGINT) AS c, CAST(floor(p_retailprice) AS BIGINT) AS f, abs(p_retailprice - 1000) AS a, CAST(floor(sqrt(p_retailprice)*1000000 + 0.5) AS BIGINT) AS sqrt_e6, CAST(floor(ln(p_retailprice)*1000000 + 0.5) AS BIGINT) AS ln_e6, CAST(p_partkey % 7 AS INT) AS m7, CAST(sign(p_retailprice - 1000) AS INT) AS sgn FROM part ORDER BY p_partkey",
    "q_upc_checkdigit" ->
      "WITH u AS (SELECT p_partkey, lpad(CAST(p_partkey AS VARCHAR), 11, '0') AS s FROM part), d AS (SELECT p_partkey, s, 3*CAST(substring(s,1,1) AS INT) + CAST(substring(s,2,1) AS INT) + 3*CAST(substring(s,3,1) AS INT) + CAST(substring(s,4,1) AS INT) + 3*CAST(substring(s,5,1) AS INT) + CAST(substring(s,6,1) AS INT) + 3*CAST(substring(s,7,1) AS INT) + CAST(substring(s,8,1) AS INT) + 3*CAST(substring(s,9,1) AS INT) + CAST(substring(s,10,1) AS INT) + 3*CAST(substring(s,11,1) AS INT) AS w FROM u) SELECT p_partkey, s || CAST((10 - w % 10) % 10 AS VARCHAR) AS upc12, CAST((10 - w % 10) % 10 AS INT) AS cd, (w + (10 - w % 10) % 10) % 10 = 0 AS valid_ok, (w + ((10 - w % 10) % 10 + 1) % 10) % 10 = 0 AS valid_bad FROM d ORDER BY p_partkey",
    "q_array_funcs" ->
      "SELECT vec_id, CAST(len(embedding) AS INT) AS n_dims, CAST(floor(CAST(embedding[1] AS DOUBLE)*1000000 + 0.5) AS BIGINT) AS first_e6, list_aggr(list_transform(embedding[1:3], x -> CAST(CAST(floor(CAST(x AS DOUBLE)*1000000 + 0.5) AS BIGINT) AS VARCHAR)), 'string_agg', ',') AS head3, list_aggr(list_transform(embedding, x -> CAST(CAST(floor(CAST(x AS DOUBLE)*2000000 + 0.5) AS BIGINT) AS VARCHAR)), 'string_agg', ',') AS doubled_e6, CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos, CAST(floor(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE)), (p,q) -> p+q)*1000000 + 0.5) AS BIGINT) AS sum_e6 FROM embeddings ORDER BY vec_id",
    "q_explode_tokens" ->
      "SELECT doc_id, tok, count(*) AS n FROM (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents) WHERE tok <> '' GROUP BY doc_id, tok ORDER BY doc_id, tok",
    "q_json_funcs" ->
      "SELECT event_id, CAST(json_extract_string(props,'$.k') AS INT) AS k_path, CAST(json_extract_string(props,'$.k') AS INT) AS k_struct, CAST(json_extract_string(props,'$.k') AS INT) AS k_tuple FROM events ORDER BY event_id",
    "q_map_funcs" ->
      "SELECT event_id, list_aggr(json_keys(props), 'string_agg', ',') AS ks, CAST(CAST(json_extract_string(props,'$.k') AS INT) AS VARCHAR) AS vs, CAST(json_extract_string(props,'$.k') AS INT) AS kval FROM events ORDER BY event_id"
  )
}
