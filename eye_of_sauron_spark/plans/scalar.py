"""Scalar-function surface: JSON, map, string, date/time, array
higher-order, and binary/base64 codec queries.

Reference parity: the whole reference pipeline is JSON codec
(json.dumps/loads — reference src/frame_producer.py:80-82,
src/utils.py:24-28) plus base64 tensor triples (src/utils.py:248-264);
query registration parses target names out of uploaded filenames
(web/views.py:121-131). Those idioms map here to ``from_json`` /
``get_json_object`` over ``events.props``, ``base64``/``unbase64``
over document text, and ``substring_index``/``initcap`` string
surgery over part names.

Everything below is a built-in Catalyst expression — JVM-side, inside
WholeStageCodegen, no Python in the hot path. At 100 TB these are all
narrow (per-row) ops that pipeline into whatever scan/join stage feeds
them; the only shuffles are the final small aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from .registry import query


@query(
    "json_extract_props",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
           round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse ``events.props`` (a JSON string) with ``from_json`` into a
    typed struct and aggregate the extracted field — the engine-side
    version of the reference's per-message json.loads
    (src/utils.py:24-28). Schema is declared, so Catalyst evaluates one
    Jackson parse per row inside codegen; no Python."""
    e = load_table(spark, sf_dir, "events").withColumn(
        "k", F.from_json("props", "k INT").getField("k")
    )
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("k").cast("bigint").alias("sum_k"),
        F.round(F.avg("k"), 4).alias("avg_k"),
        F.max("k").cast("int").alias("max_k"),
    )


@query(
    "json_map_explode",
    oracle="""
    SELECT k.key AS key,
           count(*) AS n,
           CAST(sum(CAST(json_extract_string(e.props, '$.' || k.key) AS INT)) AS BIGINT)
               AS total
    FROM events e, unnest(json_keys(e.props)) AS k(key)
    GROUP BY k.key
    """,
)
def json_map_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schemaless JSON as a map: ``from_json`` to ``map<string,int>``,
    then ``explode`` to (key, value) rows — how the engine treats the
    reference's open-ended message dicts (§1.2) when the key set is not
    known up front."""
    e = load_table(spark, sf_dir, "events").select(
        F.explode(F.from_json("props", "map<string,int>")).alias("key", "value")
    )
    return e.groupBy("key").agg(
        F.count("*").alias("n"),
        F.sum("value").cast("bigint").alias("total"),
    )


@query(
    "string_filename_parse",
    oracle="""
    SELECT p_partkey,
           split_part(p_name, ' ', 1) AS stem,
           array_to_string(
               list_transform(string_split(p_name, ' '),
                              w -> upper(w[1]) || lower(w[2:])),
               ' ') AS pretty_name,
           CAST(length(p_name) AS INT) AS name_len,
           p_brand || '/' || lower(p_type) AS tag
    FROM part
    """,
)
def string_filename_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String surgery mirroring the reference's filename -> display-name
    parse (web/views.py:121-131: take the stem before the separator,
    title-case it): ``substring_index`` + ``initcap`` + concat over part
    names. DuckDB has no initcap, so the oracle title-cases word-by-word
    with a list lambda."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.substring_index("p_name", " ", 1).alias("stem"),
        F.initcap("p_name").alias("pretty_name"),
        F.length("p_name").cast("int").alias("name_len"),
        F.concat_ws("/", "p_brand", F.lower("p_type")).alias("tag"),
    )


@query(
    "datetime_bucketing",
    oracle="""
    SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week,
           CAST(isodow(ts) AS INT) AS dow,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value,
           CAST(min(floor(epoch(ts))) AS BIGINT) AS first_epoch_sec
    FROM events
    GROUP BY week, dow
    """,
)
def datetime_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_trunc / day-of-week / epoch-seconds bucketing — the latency
    timestamping surface of the reference (float unix seconds,
    src/prediction_producer.py:355-361) done with typed timestamps.
    Spark's weekday() is Monday=0; ISO dow is Monday=1, hence the +1."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.select(
            F.date_trunc("week", "ts").alias("week"),
            (F.weekday("ts") + 1).cast("int").alias("dow"),
            "value",
            F.unix_timestamp("ts").alias("epoch_sec"),
        )
        .groupBy("week", "dow")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.min("epoch_sec").alias("first_epoch_sec"),
        )
    )


@query(
    "array_vector_scalars",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS INT) AS dim,
           round(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm,
           round(CAST(list_max(embedding) AS DOUBLE), 6) AS max_val,
           round(list_sum(list_transform(list_slice(embedding, 1, 8),
                 x -> CAST(x AS DOUBLE))), 6) AS head8_sum,
           round(CAST(embedding[len(embedding)] AS DOUBLE), 6) AS last_val
    FROM embeddings
    """,
)
def array_vector_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order functions over the embedding column:
    ``aggregate``/``transform`` fold (L2 norm — the vector-math
    substrate for the similarity operators), ``array_max``, ``slice``,
    ``element_at``. All evaluate JVM-side per row; this is the
    built-in-function path that replaces the reference's numpy-per-row
    vector math (src/prediction_producer.py:314-325)."""
    emb = load_table(spark, sf_dir, "embeddings")
    dbl = lambda c: c.cast("double")  # noqa: E731
    return emb.select(
        "vec_id",
        F.size("embedding").cast("int").alias("dim"),
        F.round(
            F.sqrt(
                F.aggregate(
                    F.transform("embedding", lambda x: dbl(x) * dbl(x)),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
            ),
            6,
        ).alias("l2_norm"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("max_val"),
        F.round(
            F.aggregate(
                F.transform(F.slice("embedding", 1, 8), dbl),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            6,
        ).alias("head8_sum"),
        F.round(F.element_at("embedding", -1).cast("double"), 6).alias("last_val"),
    )


@query(
    "binary_base64_codec",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN decode(from_base64(to_base64(encode(text)))) = text
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_roundtrip_ok,
           round(avg(length(to_base64(encode(text)))), 4) AS avg_b64_len,
           min(md5(text)) AS min_md5,
           min(sha256(text)) AS min_sha256
    FROM documents
    GROUP BY lang
    """,
)
def binary_base64_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary/base64 codec — the reference's np_to_json/np_from_json
    tensor triple (src/utils.py:248-264) reduced to its essence:
    string -> binary -> base64 -> binary -> string round-trip, plus
    md5/sha256 content digests (the exact-dedup keys). Aggregated per
    lang so the check also pins digest portability across engines."""
    d = load_table(spark, sf_dir, "documents")
    bin_text = F.encode("text", "UTF-8")
    roundtrip = F.decode(F.unbase64(F.base64(bin_text)), "UTF-8")
    # Spark's base64 may emit RFC-2045 MIME chunking (CRLF every 76
    # chars) depending on spark.sql.legacy.chunkBase64String; strip the
    # line breaks so the measured length is the canonical encoding's.
    b64_canonical = F.regexp_replace(F.base64(bin_text), "[\\r\\n]", "")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(roundtrip == F.col("text"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_roundtrip_ok"),
        F.round(F.avg(F.length(b64_canonical)), 4).alias("avg_b64_len"),
        F.min(F.md5(bin_text)).alias("min_md5"),
        F.min(F.sha2(bin_text, 256)).alias("min_sha256"),
    )


@query(
    "json_serialize_roundtrip",
    oracle="""
    WITH msg AS (
        SELECT event_id,
               to_json(struct_pack(
                   event_id := event_id,
                   event_type := event_type,
                   user_id := user_id
               )) AS payload
        FROM events
    )
    SELECT event_id,
           payload,
           CAST(length(payload) AS INT) AS payload_len,
           payload ->> 'event_type' AS decoded_type,
           CAST(payload ->> 'user_id' AS BIGINT) AS decoded_user
    FROM msg
    """,
)
def json_serialize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's message serialize/deserialize cycle (A2:
    ndarray+metadata -> JSON, frame_producer.py:172-176; decode
    utils.py:24-28) on typed columns: to_json(struct(...)) produces
    byte-identical wire text in both engines, then fields are
    extracted back out of the string. Narrow expression work."""
    e = load_table(spark, sf_dir, "events")
    msg = e.select(
        "event_id",
        F.to_json(F.struct("event_id", "event_type", "user_id")).alias("payload"),
    )
    return msg.select(
        "event_id",
        "payload",
        F.length("payload").cast("int").alias("payload_len"),
        F.get_json_object("payload", "$.event_type").alias("decoded_type"),
        F.get_json_object("payload", "$.user_id").cast("bigint").alias("decoded_user"),
    )
