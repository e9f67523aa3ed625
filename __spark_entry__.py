"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every SURVEY.md §2 operator family over the driver's
testdata tables; ``oracle_sql()`` gives the DuckDB-runnable ANSI mirror.
The parse queries CONSTRUCT syslog lines from table columns in SQL, parse
them with the real engine (syslog_spark.operators.parse), and the oracle
recomputes the expected fields directly from the same construction — a
ground-truth check of the parser through the driver's hash gate.

Every query has a DuckDB oracle (36/36): probabilistic operators are gated
either on constructions where their recall is ~1 by design (planted
near-neighbours, exhaustive IVF probing, high-margin Jaccard pairs) with
the oracle recomputing the exact answer, or on exact SQL-recomputable
ground truth (inverted-index all-pairs Jaccard for the documents-table
near-dup).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from syslog_spark import constants as C  # noqa: E402
from syslog_spark.functions.priority import (  # noqa: E402
    facility_name,
    facility_of,
    is_valid_facility,
    is_valid_priority,
    is_valid_severity,
    severity_name,
    severity_of,
    tenant_of,
)
from syslog_spark.operators.dedup import _spread_if_narrow  # noqa: E402
from syslog_spark.operators.parse import parse_lines, parse_tokens  # noqa: E402
from syslog_spark.operators import textstats as TS  # noqa: E402
from syslog_spark.operators.serialize import with_canonical  # noqa: E402


_SHIPPED: set[int] = set()


def _ensure_shipped(spark: SparkSession) -> None:
    """The driver may hand us a session it built itself; make sure the
    syslog_spark package reaches its python workers (addPyFile zip)."""
    key = id(spark)
    if key in _SHIPPED:
        return
    try:
        from syslog_spark.session import _ship_package

        _ship_package(spark)
    except Exception:
        pass  # workers may still resolve the package via CWD
    _SHIPPED.add(key)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_shipped(spark)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- SQL construction of syslog lines (shared Spark/DuckDB shapes) -------------

_RFC_LINE_SPARK = (
    "concat('<', cast(pmod(event_id, 192) as int), "
    "'>1 2024-01-01T00:00:00+00:00 host', cast(pmod(user_id, 50) as int), "
    "' ', event_type, ' p', cast(pmod(event_id, 97) as int), "
    "' m', cast(pmod(event_id, 13) as int), "
    "' [meta k=\"', event_type, '\"] ev', event_id)"
)
_RFC_LINE_DUCK = (
    "'<' || (event_id % 192) || '>1 2024-01-01T00:00:00+00:00 host' || "
    "(user_id % 50) || ' ' || event_type || ' p' || (event_id % 97) || "
    "' m' || (event_id % 13) || ' [meta k=\"' || event_type || '\"] ev' "
    "|| event_id"
)


def _spread_events(spark, sf_dir):
    """Events columns fanned out BEFORE line construction: the testdata
    table is one file/one row group, so a construct-then-repartition plan
    builds (and round-robin pre-sorts) every line in the single scan task
    and shuffles the long strings; spreading the three narrow source
    columns first parallelizes the concat and shuffles ~4x fewer bytes
    (round-6, guide §2.3 "project before the exchange")."""
    return _spread_if_narrow(
        _t(spark, sf_dir, "events").select("event_id", "user_id",
                                           "event_type")
    )


def _rfc_lines_df(spark, sf_dir):
    return _spread_events(spark, sf_dir).select(
        F.col("event_id").cast("string").alias("doc_id"),
        F.expr(_RFC_LINE_SPARK).alias("line"),
        F.lit("rfc5424").alias("source"),
    )


def _parse_rfc(spark, sf_dir):
    return parse_lines(_rfc_lines_df(spark, sf_dir))


# --- queries -------------------------------------------------------------------


def q_priority_decode(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    pri = F.pmod(F.col("event_id"), F.lit(256)).cast("int")
    return ev.select(
        F.col("event_id"),
        pri.cast("bigint").alias("pri"),
        facility_of(pri).cast("bigint").alias("facility"),
        severity_of(pri).cast("bigint").alias("severity"),
        is_valid_priority(pri).alias("pri_valid"),
        is_valid_facility(facility_of(pri)).alias("fac_valid"),
        is_valid_severity(severity_of(pri)).alias("sev_valid"),
        (facility_of(pri).cast("int") * 8 + severity_of(pri).cast("int"))
        .cast("bigint")
        .alias("pri_rebuilt"),
    )


def q_priority_names(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    pri = F.pmod(F.col("event_id"), F.lit(256)).cast("int")
    return ev.select(
        "event_id",
        facility_name(facility_of(pri)).alias("facility_name"),
        severity_name(severity_of(pri)).alias("severity_name"),
    )


def q_enrich_tenant(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.col("source"), tenant_of("source").alias("tenant")
    )


def q_enrich_joins(spark, sf_dir):
    """Broadcast-join enrichment over PARSED rows (the §2.8 join path,
    end-to-end through the hash gate): construct -> parse -> join dims."""
    from syslog_spark.operators.enrich import enrich_with_joins

    p = enrich_with_joins(_parse_rfc(spark, sf_dir), spark)
    return p.select(
        "doc_id", "facility_name", "severity_name", "tenant",
    )


def q_parse_rfc5424_fields(spark, sf_dir):
    p = _parse_rfc(spark, sf_dir)
    return p.select(
        "doc_id",
        F.col("priority").cast("bigint").alias("priority"),
        F.col("facility").cast("bigint").alias("facility"),
        F.col("severity").cast("bigint").alias("severity"),
        F.col("version").cast("bigint").alias("version"),
        "hostname", "appname", "proc_id", "msg_id", "message",
    )


def q_parse_rfc5424_data(spark, sf_dir):
    p = _parse_rfc(spark, sf_dir)
    return p.select(
        "doc_id",
        F.col("data")[0]["sd_id"].alias("sd_id"),
        F.col("data")[0]["params"][0]["key"].alias("param_key"),
        F.col("data")[0]["params"][0]["value"].alias("param_value"),
        F.size("data").cast("bigint").alias("n_blocks"),
    )


def q_parse_timestamps(spark, sf_dir):
    o = _spread_if_narrow(
        _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    )
    lines = o.select(
        F.col("o_orderkey").cast("string").alias("doc_id"),
        F.concat(
            F.lit("<1>1 "),
            F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss"),
            F.lit("+00:00 h a p m -"),
        ).alias("line"),
        F.lit("rfc5424").alias("source"),
    )
    p = parse_lines(lines)
    return p.select(
        "doc_id",
        F.col("ts_micros").alias("ts_micros"),
        F.col("tz_offset_seconds").cast("bigint").alias("tz_offset_seconds"),
    )


def q_parse_nginx_access(spark, sf_dir):
    line = (
        "concat('<190>Oct  5 12:05:15 host', cast(pmod(user_id, 50) as int), "
        "' nginx: [request status=\"', cast(pmod(event_id, 600) as int), "
        "'\" bytes=\"', cast(pmod(event_id, 5000) as int), '\"]')"
    )
    lines = _spread_events(spark, sf_dir).select(
        F.col("event_id").cast("string").alias("doc_id"),
        F.expr(line).alias("line"),
        F.lit("nginx_access").alias("source"),
    )
    p = parse_lines(lines)
    params = F.col("data")[0]["params"]
    return p.select(
        "doc_id",
        F.col("priority").cast("bigint").alias("priority"),
        "hostname",
        "appname",
        F.col("data")[0]["sd_id"].alias("sd_id"),
        F.filter(params, lambda x: x["key"] == F.lit("status"))[0]["value"]
        .alias("status"),
        F.filter(params, lambda x: x["key"] == F.lit("bytes"))[0]["value"]
        .alias("bytes"),
        F.unix_micros("ts").alias("ts_micros"),
    )


def q_parse_nginx_error(spark, sf_dir):
    line = (
        "concat('<187>Jan  2 03:04:05 h', cast(pmod(user_id, 9) as int), "
        "' nginx: 2024/01/02 03:04:05 [error] fail ev', event_id, "
        "', client: 10.0.0.', cast(pmod(event_id, 255) as int), "
        "', server: srv', cast(pmod(event_id, 7) as int), "
        "', request: \"GET /', event_type, ' HTTP/1.1\"')"
    )
    lines = _spread_events(spark, sf_dir).select(
        F.col("event_id").cast("string").alias("doc_id"),
        F.expr(line).alias("line"),
        F.lit("nginx_error").alias("source"),
    )
    p = parse_lines(lines)
    params = F.col("data")[0]["params"]

    def param(k):
        return F.filter(params, lambda x: x["key"] == F.lit(k))[0]["value"]

    return p.select(
        "doc_id", "hostname", "appname", "message",
        param("client").alias("client"),
        param("server").alias("server"),
        param("request").alias("request"),
    )


def q_serialize_roundtrip(spark, sf_dir):
    line = (
        "concat('<', cast(pmod(event_id, 192) as int), "
        "'>1 2024-03-01T12:30:45+02:00 host', cast(pmod(user_id, 50) as int), "
        "' app p', cast(pmod(event_id, 97) as int), "
        "' m [meta k=\"', event_type, '\"] ev', event_id)"
    )
    lines = _spread_events(spark, sf_dir).select(
        F.col("event_id").cast("string").alias("doc_id"),
        F.expr(line).alias("line"),
        F.lit("rfc5424").alias("source"),
    )
    p = with_canonical(parse_lines(lines, keep_raw=True))
    return p.select(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("canonical") == F.col("raw"), 1)).alias(
            "n_roundtrip"
        ),
    )


def q_error_sink(spark, sf_dir):
    line = (
        "case when event_id % 7 = 0 then concat('<> ev', event_id) "
        f"else {_RFC_LINE_SPARK} end"
    )
    lines = _spread_events(spark, sf_dir).select(
        F.col("event_id").cast("string").alias("doc_id"),
        F.expr(line).alias("line"),
        F.lit("rfc5424").alias("source"),
    )
    p = parse_lines(lines)
    return p.select(
        "doc_id", "error_msg",
        F.col("error_column").cast("bigint").alias("error_column"),
    )


def q_error_classes(spark, sf_dir):
    """Six malformed-input classes with reference-exact error strings
    (parsers_test.go tables, in-pipeline columns)."""
    line = (
        "case pmod(event_id, 6) "
        "when 0 then concat('<> ev', event_id) "
        "when 1 then concat('<abc> ev', event_id) "
        "when 2 then concat('<1234> ev', event_id) "
        "when 3 then concat('<1>a - - - - - ev', event_id) "
        "when 4 then concat('<1>1 BAD-TIMESTAMP h a p m - ev', event_id) "
        f"else {_RFC_LINE_SPARK} end"
    )
    lines = _spread_events(spark, sf_dir).select(
        F.col("event_id").cast("string").alias("doc_id"),
        F.expr(line).alias("line"),
        F.lit("rfc5424").alias("source"),
    )
    p = parse_lines(lines)
    return p.select(
        "doc_id", "error_msg",
        F.col("error_column").cast("bigint").alias("error_column"),
        F.col("failed_stage").cast("bigint").alias("failed_stage"),
    )


# Expected md5(comma-joined floor(x*10000)) per synth_media_df(128) row,
# precomputed from multimodal._stub_features (deterministic: sha256-seeded
# numpy RandomState, whose legacy stream is frozen across versions).
_MM_FEATURE_DIGESTS = [
    "6425764f975fc7e9040648fab8782125", "878ee554edec51e38ce48871026cb9fc",
    "ad2fd7e7829ff048ddb9ef34da163892", "b8e142f068b2b605ef99101ea9c8b890",
    "8c3a23bcaf233f73e1fea17666d8c22f", "163ee88f1e94b80884d25679459eb545",
    "14a1af7f190066b918e406b9169abc5e", "d7fb9edf64c3aeadf69008b13d9908ca",
    "01af352a495f3576b971b430969b3a04", "c754524c3fc1a98a48d552d8517944b7",
    "97238765e57c11d6eb6804da7c0e9e66", "a47fc0e6af5101b6c9738afb141f3984",
    "ea167f7bdac6d9583d44ca288722c925", "af9ec642e3e2b75c78d7e17afc16be19",
    "3846cb58da1ed9b99de2afb123659047", "ab3d04f3df77172bd49da3a8cbc41894",
    "a221be1945d292d42d0cb7d0e8d7e66a", "65d12831ee1d593bbf6227dc1a5f0160",
    "8a2bf026be0bef44c019f3e2c98b9cd5", "ee1ae67d2c1249c5603f56a53120a7c1",
    "edb89bee3277788543677530ce1b09a9", "b9e6dceab93ce1f6127c110618de78b0",
    "fdcfda1c3cd681a488daf242d1efdafa", "8a85e7f8ee3cf081baf2add1e99abf05",
    "fd9ba90ce38b01212e68f92be348db86", "c767630348fa679fa7e5ddb57d422868",
    "6a3c566d8f7fa5c68de068bbf92022e3", "9cae05bef445e0774d907de41802685e",
    "542fa9872c2c9b4ad3fb7cae384e5050", "44ac67370cfa491b20cb8929132c5270",
    "561c9d38e5c7ec5d44722b3909a673f2", "4771e39ac57da3dcadb6f5cab6d08410",
    "c1d6ca1b504d10a3f370cbe6ae930f61", "5733b435b453da23393b9d1f42caffa0",
    "e9ff1d289f3f442b21dd4477f1aca89b", "b851a31389ace2051833e7485e699d0c",
    "18f90c7caeeafc411a777583b292c949", "a4bde87699eb847ff242a93470c7b3d5",
    "cedec60d6a1be0eee7e7140be73c7934", "42ed1ff360f0add4f239ec4fdef8616f",
    "c3781333674974b7dc704f096f4c294f", "0a8b77346dd996fd9731629980c3834a",
    "8296cbe4314b57b2930114f7012917dd", "2b6fa573b8dea934dd1186facbac9247",
    "ae65df9498c48eb18b3d2fe07d007d96", "f07f1512a99efff4582762dd10aa345d",
    "2c71eb8f9b62f803f49437e4f6c7d55b", "aaccb45605596b6e74a6f67ac39ca9b6",
    "a2cf127a4d29125380831b12a29090f4", "a85e1036f7528b40e8b49e970007edf3",
    "f5efb4615068335e574de9b6f73dc30b", "1555cf1d84accc7c24aee425720f3b96",
    "41a8f08876065a8dc03671065fbf5e98", "c77bd7441e970b82ffce0a46f5689cf5",
    "03cab7c214ebafb6cdd6c9cf25c5146b", "29e3de45361eca3a0d7e41970a6d0616",
    "6048035864d973dff024de39e1c8bfd7", "4a340b49b811ebdfed806ac35fbf6370",
    "0c8c401d330f3fdf54f85357bf3a1dba", "a536a82c41a621520d49e4ff1f086a84",
    "c723b3e84f3d249cd19556c28581fae9", "9e3f3642d5c33583b14d8f73f9622eb8",
    "0ca038c215782e367b901ec7c49efbb1", "a2ba0ce89c0a932ec24e060f518c671f",
    "15fab3a6df5fc1db47da63255d618d60", "facac5240b2371d8a63bbe5d2aace382",
    "d638367b029e6b986073f817bb59d523", "760653509c752ff83d7779ea2c93b546",
    "b90d2aba3662c242c2f164a70da6227f", "4248f6dad1f9dfec95944928d3087868",
    "24bfaba3a69270e7fd3138a481c2c9f3", "c8d2f06e488c762588119a84412326c9",
    "0e5c77f8e157c29bcdcbca51ef37eeff", "e5ca913d4f6e954409f817e95d20e026",
    "2a70a6874a808c766b0abd55eb23bf25", "488339e5971b2a0937592447f821560b",
    "b59775aa0beda2a4260a2d11a30e3322", "20e7a54efca80d334ea5ca1fce88e853",
    "e9fa03192fa6a64246c5abb8c666b86e", "4a322afae31e4b1ccc403672293bb47d",
    "937ee3b3df04c9f38520844232e429a3", "b7e3cd16f99b3c7fbeab49236573cb94",
    "04b1c0b2ff5ec3215bc63c7321d47a7b", "a9b5d1702bc0252cbbc88439e09451f1",
    "8e8025037f45e7bcc8a3d5fe58cdadfe", "b8e85f551d528ef20f89b4ba2fd687e2",
    "64cc689024887e16e04881f4ff0a0562", "c2242c3f3f58c20b71f0377fcb6eee8b",
    "033a6de94d079020da579ee4b48150c0", "8c5a72451fe2c6e212e4244761acdb16",
    "73cfefdc476c0e6899d329fa56db1501", "7fdcb11e5b56a9364f69cfcd76b2f0d9",
    "1f45bf85e4e4e5e83f37a7e0771840f5", "7175cca5226ceb7a0366311c95846967",
    "df93b1fa3a820485c1844a100332238c", "a8ce218ec194fb759166ef736e92d205",
    "018bbcf073b704dc62a06dd80ce1aae6", "4bd72465a9a3f4db13f066eb1e815225",
    "a64d41997bba3eae6084496975ae183f", "d3b118dac0ae30485f7f1be6e4c15bf9",
    "904844d9b72b7316b5aedb383b07198e", "d9f45c93ea12f84441c37db861110d22",
    "75cd81f30401a90ad2c7fcd251a2c214", "7d3415e453ed81dff1cccca581611b33",
    "e4badd914efe73ddaa8899e0fe66a209", "405a39acd78e57e1cfc80036fc364b8b",
    "13d8c7f551a45eab662b09c8a03e02d8", "734ff927b7c4e257dd167a07047c1e47",
    "354f99d7f1dd5c89b5925cc591ab7553", "74685fe10e947d9710c353313f3d0030",
    "b801a9451c16c2fac551d4b436cd3317", "ef9947f85e6267727924b963e487b237",
    "993ae5ee3965887c92322036dadaedc6", "629cd48cb378c86227ae5fc33689e447",
    "20a56b9314309c33e4daf58b80a8a7ef", "5322f903bc12e31d0cc209104cd1267c",
    "a0e241d1bf35ea762508d345e7c27ba6", "32f160b9c15b49ab98aef36ca6acf5d9",
    "ad620cd1b831ec036523903e6a4e4907", "ba006defde7e9a1b7c98d62d077e9d40",
    "03daacd39b80492f20e610a7648193db", "e225c93f86b0bffe19f8bdc34bba3076",
    "a3588f7ebb5034669dabddfeafed8693", "1f811d1aa2dcaa0948a4877ef4624077",
    "320c90acdca0f208d6e3472ced8387a7", "9c239811f38038c772f8f9686e956165",
    "8eac1c882b2f7bc3696f69e6b11f71ed", "00edd8d277851496a89a10ba970ddbfb",
]


def q_multimodal_features(spark, sf_dir):
    """Stubbed decode over the binary media table (real Arrow/mapInPandas
    plumbing, deterministic payloads). Oracle-checked on CONTENT: the
    feature vector is pinned by an integer-quantized digest
    (md5 of comma-joined floor(x*10000) per component — float32->double
    extension is exact, floor avoids round-mode mismatch), compared
    against digests precomputed from the same deterministic stub
    (sha256-seeded RandomState; the legacy-generator stream is frozen
    across numpy versions) inlined as a DuckDB VALUES table."""
    from syslog_spark.operators.multimodal import extract_features, synth_media_df

    _ensure_shipped(spark)
    media = synth_media_df(spark, 128)
    out = extract_features(media)
    return out.select(
        "doc_id", "modality",
        F.size("feature").cast("bigint").alias("feature_dim"),
        F.md5(
            F.concat_ws(
                ",",
                F.expr(
                    "transform(feature, "
                    "x -> cast(floor(cast(x as double) * 10000d) as string))"
                ),
            )
        ).alias("feature_digest"),
        "decode_error",
    )


# Expected md5(comma-joined floor(x*10000)) per synth_real_media_df(96)
# row, precomputed by running multimodal._numpy_features on the same
# deterministic REAL encoded payloads (BMP/PPM/WAV; integer-math test
# patterns, order-fixed float arithmetic). None = the planted corrupt
# payload (every 16th row).
_MM_DECODE_DIGESTS = [
    "979f32765f0f364047e74ff309f51470", "ea054139ea97ffe77486f12bdf1ac429",
    "88300e162cb11d91682223fc61d26ffd", "8e85e3920303e5bc32f08ea056022b67",
    "8d906b46b63c65833ca7eb7cfa16ccda", "a719b23bb14ea03ef27a8bac626df5b8",
    "971894fc71ac903674cfd879a87ccfcb", "09e4df22460a52b8fcbece23a28c8fb6",
    "989c7f4925b2cc01e9d33b791a2b8a2e", "28a6890fd33ed14209f9929cc5188376",
    "dcfdda93f84ba4c04c38950a46d124cb", "db62a498d4f1bfa13e1f8a86a4fe6038",
    "12c9e413ed158c0ce0ec681a5fba60c7", "33c6d90a9c8332aa2ab7acf9c639b5fb",
    "a36d9a99584cfb36fef5a44e50f69d41", None,
    "6dc0d939045ddb481b3f5f05c8f84d01", "d671aa88cab32a3597d6c8ee2dde4fd2",
    "9b3a167e70cad0c31c5a656158b75d57", "ca7dec010acd714d815e22ebb454480b",
    "39ff63960b67aa44b3e067de7ee93462", "76d360c9cf7b31cd76c7d4eeabd02a60",
    "c3a37834ae53e034b90787c5b361354a", "249254b4d468341fd2baaba3963d1e49",
    "f9a0c62fd2edc46857cb5367b34e1927", "aadec3a5ba49159a1fba8e992a8c473d",
    "00f01d3380ab469f5ee92d56417f4099", "3dab9136ffec74db2ccec92b647dc63a",
    "29ff64d6b6af111d08fa62f016f9b4a1", "fc3e51a93a62c7a85df18d869e728f71",
    "b87af0e69b9964c3cb9340023c7dce93", None,
    "1b0ce768a5b19277f374450ba7d369d3", "7e1d35cdeb17732c03aea4d0cc361fac",
    "5f7b208c1a0e05230d603d3e0a631336", "f1178aedfc54263cfa1c9a19a36a9d69",
    "5c8b778744aff1c0ddba70acc214eb69", "7bf06aa20e3130ffeaa6adcb7da38c52",
    "2a5a5547c9668c0816ad23c2d13f2779", "9ba807cc1afcc8797e349f721bdec329",
    "3f9616021bc2175643257bb67bfb7e0c", "c81ca2faa704aacdc52e86cb82bd2c85",
    "5cca2f158ad87b8c1ba7e433c15d3413", "8a72cfa31f218742cabb9c73b5ac8f6b",
    "8673231e3f14c62ece535b9761b42e98", "fcc01aa54db1ba2e67f8c00f8d18449f",
    "cc2f8079b46d1fc83d2df97ec2b59604", None,
    "5b3f6b09f1698b502794523ff65f66bd", "6fcaca21d316a651c75c5a19dc63cfaf",
    "f080e6fc943637d19e14f36bf67f55cb", "698891f9066ef4784f4eec714db9512c",
    "48c2d1d78ce4aa2d4564a3d5aed71627", "548094ffc6f3da96e9eb32271b04372f",
    "8d6b6cb4129a71ec71d2ee7c8d796119", "34ad5989d8674a000a3771bbb3985840",
    "7ac1b030e6e367afbbfe76083196fdf0", "b56a13a2fec2a857ca0004aa1d765b22",
    "7fa2a27631478fad30f35e9b6c251685", "f321ea3f89b9b1be45d812a3aa1cf891",
    "c3c84bc90a334623df63b444ecd06a9a", "0781447cd5034bb9c4b90dd9a7603f86",
    "345e6a2ce1c74330e82e25c915eeb4b3", None,
    "01d37c52dfd51a4a15a018b2d242a8c5", "6368e2097c9189f4dd6f892c5dc42c45",
    "90fcc69b5e554fa4d07eb47f64073140", "2c170e8ab8a4df4be429258a37860b69",
    "ce0f0ffa6937de10cbb0ec98d89120d4", "f03b4a5cfc1ced408a8e2706740c9412",
    "dfb25be992aa177ebd5a7808e125f477", "e760bc2c5086118e8c3490a5defefa6b",
    "7d459e802b6d51a3babd833716b6a736", "55982f9d847ea0254638226ddd361e0e",
    "52e7dd7c64bbebf83e08b3a7df7fca91", "208600f6dd14d75bc9adc3d63358c55d",
    "f6350d9ed749bb3113e1e278ff2bee3c", "c4a5149dd64a11dcb415d59c05dd198a",
    "51313e90f9d979706eebfeb80a5e8a7b", None,
    "80e01f3610e309de8052fa5de43a485a", "9f7ab56710cea0cae1221064a2dcea4b",
    "f6b0213f358d393dceef51def0bb96ba", "864d166811220ceb98d4f011c84a6eaf",
    "ff743e8e9cd5ee4dc978b7596ac57cf0", "810454807fa406281d933b13f086444f",
    "684c5f5ef7dc9493bf63767acb06bd00", "becda4f2f0a9e7afe8b91d597054dfdb",
    "84008490dd785d397d295941198558bd", "67198fa59c90a53caaf7cfe472c48426",
    "c64ac6dfece6029fca39b0bfeb7bfe10", "d5004eda1c083bf030e5f586f1c717b2",
    "b243712eb641e43d3aebe82a46274e6a", "35ae84266548896e33e58fc8d75b0a41",
    "53b2382330f9b7aa766f034c79b33cf7", None,
]

_MM_DECODE_ERR = (
    "decode failed: unrecognized payload format (want BMP/PPM/WAV)"
)


def q_multimodal_decode(spark, sf_dir):
    """REAL decode over real encoded bytes — no stub, no seeded RNG:
    deterministic BMP/PPM images and WAV PCM16 audio are decoded by the
    dependency-free numpy decoder (multimodal._numpy_features: header
    parse, pixel/sample extraction, 8x8 block-mean pooling / 64
    segment-energy bands) inside mapInPandas, and the resulting feature
    CONTENT is pinned by the same quantized-digest scheme as
    multimodal_features. Corrupt payloads (every 16th row) pin the
    error path: null feature, verbatim decode_error."""
    from syslog_spark.operators.multimodal import (
        extract_features, synth_real_media_df,
    )

    _ensure_shipped(spark)
    media = synth_real_media_df(spark, 96)
    out = extract_features(media, decoder="numpy")
    return out.select(
        "doc_id", "modality",
        F.size("feature").cast("bigint").alias("feature_dim"),
        F.when(
            F.col("decode_error").isNull(),
            F.md5(
                F.concat_ws(
                    ",",
                    F.expr(
                        "transform(feature, "
                        "x -> cast(floor(cast(x as double) * 10000d) "
                        "as string))"
                    ),
                )
            ),
        ).alias("feature_digest"),
        "decode_error",
    )


def q_route_counts(spark, sf_dir):
    p = _parse_rfc(spark, sf_dir)
    return (
        p.filter(F.col("error_msg").isNull())
        .groupBy(F.col("severity").cast("bigint").alias("severity"))
        .agg(F.count(F.lit(1)).alias("rows"))
    )


def q_severity_rollup(spark, sf_dir):
    from syslog_spark.operators.enrich import enrich

    p = enrich(_parse_rfc(spark, sf_dir))
    return (
        p.filter(F.col("error_msg").isNull())
        .groupBy(
            F.col("severity").cast("bigint").alias("severity"),
            "severity_name",
        )
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.count_distinct("hostname").alias("distinct_hostnames"),
        )
    )


def q_agg_per_sink(spark, sf_dir):
    p = _parse_rfc(spark, sf_dir)
    return (
        p.filter(F.col("error_msg").isNull())
        .groupBy(F.col("severity").cast("bigint").alias("severity"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.count_distinct("hostname").alias("distinct_hostnames"),
            F.min("n_tok").cast("bigint").alias("min_len"),
            F.max("n_tok").cast("bigint").alias("max_len"),
            F.sum("n_tok").cast("bigint").alias("sum_len"),
        )
    )


def q_percentiles(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.round(F.percentile("n_chars", 0.5), 4).alias("p50"),
        F.round(F.percentile("n_chars", 0.95), 4).alias("p95"),
        F.count(F.lit(1)).alias("n"),
    )


def q_distinct_users(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("distinct_users"),
        F.count(F.lit(1)).alias("n"),
    )


def q_window_topk(spark, sf_dir):
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", F.col("rank").cast("bigint").alias("rank"))
    )


def q_join_broadcast(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


def q_tpch_q1(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_dedup_exact(spark, sf_dir):
    """Exact-dup groups over documents PLUS planted byte-identical copies
    of the first 30 docs (doc_id 'dup-<id>') — the natural table has no
    exact dupes at small SF, so without planting this gate would
    hash-match on the empty set and prove nothing."""
    from syslog_spark.operators.dedup import exact_duplicate_groups

    # single scan: every row emits itself, rows with doc_id < 30 emit a
    # second 'dup-<id>' copy via explode (VERDICT r3 nit: the planted
    # union used to scan the parquet twice)
    base = _t(spark, sf_dir, "documents")
    docs = base.select(
        F.explode(
            F.when(
                F.col("doc_id") < 30,
                F.array(
                    F.col("doc_id").cast("string"),
                    F.concat(F.lit("dup-"), F.col("doc_id").cast("string")),
                ),
            ).otherwise(F.array(F.col("doc_id").cast("string")))
        ).alias("doc_id"),
        "text",
    )
    return exact_duplicate_groups(docs).select(
        "digest",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("keep_doc_id").alias("keep_doc_id"),
    )


def q_fingerprint(spark, sf_dir):
    docs = _spread_if_narrow(_t(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id", TS.fingerprint_md5("text").alias("fingerprint")
    )


def q_token_counts(spark, sf_dir):
    docs = _spread_if_narrow(_t(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        TS.whitespace_token_count("text").cast("bigint").alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars_q"),
    )


def q_quality(spark, sf_dir):
    docs = _spread_if_narrow(_t(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        TS.stopword_count("text").cast("bigint").alias("stopwords"),
        TS.char_count(F.col("text"), ".").cast("bigint").alias("dots"),
        F.round(TS.stopword_ratio("text"), 4).alias("stopword_ratio"),
    )


def q_document_stats(spark, sf_dir):
    """The composite one-pass text-stat projection (with the round-5
    hoisted tokenizations) oracle-checked as a WHOLE: counts, ratios,
    quality score, language id, and fingerprint must all match DuckDB
    recomputing the same formulas. n_tokens_bpe is excluded (its regex
    uses lookarounds, which DuckDB's RE2 cannot express). Ratios/quality
    compare as floor(x*1e4): the doubles are bit-identical (same IEEE
    ops in the same order both engines), but round() is NOT comparable —
    Spark rounds the shortest DECIMAL repr (BigDecimal HALF_UP) while
    DuckDB rounds the BINARY value, so any value whose shortest repr
    ends in ...5 at the 5th place diverges (hit on row 492 of sf0.01);
    floor of the identical product is deterministic."""
    docs = _spread_if_narrow(_t(spark, sf_dir, "documents"))
    stats = TS.document_stats(docs)
    return stats.select(
        "doc_id",
        F.col("n_chars_computed").cast("bigint").alias("n_chars_c"),
        F.col("n_tokens_ws").cast("bigint").alias("n_tokens_ws"),
        F.floor(F.col("punct_ratio") * 10000.0).cast("bigint")
        .alias("punct_ratio_e4"),
        F.floor(F.col("stopword_ratio") * 10000.0).cast("bigint")
        .alias("stopword_ratio_e4"),
        F.floor(F.col("quality") * 10000.0).cast("bigint")
        .alias("quality_e4"),
        "lang_pred",
        "fingerprint",
    )


def q_lang_id(spark, sf_dir):
    docs = _spread_if_narrow(_t(spark, sf_dir, "documents"))
    return docs.select("doc_id", TS.lang_id("text").alias("lang_pred"))


def q_ann_brute_force(spark, sf_dir):
    from syslog_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = brute_force_topk(emb, queries, k=5)
    return top.select(
        "query_id", "vec_id", F.col("rank").cast("bigint").alias("rank")
    )


def q_embedding_neardup(spark, sf_dir):
    """Brute-force exact-cosine near-dup twin of embedding_neardup_lsh:
    all-pairs on a deliberately TINY slice (50 vectors + 50 planted
    near-copies at +10000, first coordinate * 1.001 -> cosine ~0.9999).
    Without planting, random 64-dim vectors never exceed cos 0.9 and the
    gate matched on 0 rows (vacuous, flagged by the round-2 verdict).
    The all-pairs shape is the small-scale verifier only; the 100-TB shape
    is the blocked operator gated by embedding_neardup_lsh."""
    from syslog_spark.operators.similarity import cosine

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50)
    base = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    planted = base.select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.expr("concat(array(v[0] * 1.001d), slice(v, 2, size(v) - 1))")
        .alias("v"),
    )
    c = base.unionAll(planted)
    a = c.select(F.col("vec_id").alias("a"), F.col("v").alias("va"))
    b = c.select(F.col("vec_id").alias("b"), F.col("v").alias("vb"))
    return (
        a.join(b, F.col("a") < F.col("b"))
        .withColumn("cos", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= 0.9)
        .select("a", "b")
    )


_PAIR_WORDS = [
    f"substr(md5(cast(event_id as string)), {i * 8 + 1}, 8)" for i in range(4)
] + [
    f"substr(md5(concat(cast(event_id as string), 's')), {i * 8 + 1}, 8)"
    for i in range(4)
]
_TEXT_A = "concat_ws(' ', " + ", ".join(_PAIR_WORDS) + ", 'tailz')"
_TEXT_B = "concat_ws(' ', " + ", ".join(_PAIR_WORDS) + ", 'tailq')"
_TEXT_PERM = "concat_ws(' ', " + ", ".join(reversed(_PAIR_WORDS)) + ", 'tailz')"


def _pair_docs(spark, sf_dir, text_b_expr):
    # spread the bare key BEFORE the 8-md5 text synthesis (same
    # project-above-the-exchange shape as _spread_events): the
    # single-file events scan would otherwise synthesize the whole
    # corpus in one task per union branch and shuffle the built strings
    ev = _spread_if_narrow(_t(spark, sf_dir, "events").select("event_id"))
    a = ev.select(
        F.concat(F.lit("a-"), F.col("event_id")).alias("doc_id"),
        F.expr(_TEXT_A).alias("text"),
    )
    b = ev.select(
        F.concat(F.lit("b-"), F.col("event_id")).alias("doc_id"),
        F.expr(text_b_expr).alias("text"),
    )
    return a.unionAll(b)


def q_minhash_pairs(spark, sf_dir):
    """Oracle-checked minhash-LSH near-dup detection: constructed corpus
    where doc a-<id> and b-<id> differ in one short suffix word (Jaccard
    ~0.88) and everything else is md5-random — exactly the per-event pairs
    must come back. Deterministic: fixed permutation seed, exact-Jaccard
    verification after LSH banding."""
    from syslog_spark.operators.dedup import near_duplicates_minhash

    docs = _pair_docs(spark, sf_dir, _TEXT_B)
    return near_duplicates_minhash(
        docs, threshold=0.6, bands=32, n_hashes=64
    ).select("a", "b")


def q_simhash_pairs(spark, sf_dir):
    """Oracle-checked simhash near-dup detection: b-<id> is a word
    PERMUTATION of a-<id> (simhash is order-insensitive -> Hamming 0),
    cross-event texts are md5-random (Hamming ~32)."""
    from syslog_spark.operators.dedup import simhash_near_dups

    docs = _pair_docs(spark, sf_dir, _TEXT_PERM)
    return simhash_near_dups(docs, max_hamming=3).select("a", "b")


def q_dedup_components(spark, sf_dir):
    """Connected components over a near-dup pair list — the cluster-
    assignment stage between candidate pairs and keep-one-per-cluster.
    Deterministic chain construction (i—i+1000 for i<30, i+1000—i+2000
    for i<15) forces TRANSITIVE merging (i and i+2000 share no edge);
    DuckDB recomputes the closure with a recursive CTE. End-to-end wiring
    (minhash pairs -> components -> dedupe_by_components) is pytest-
    covered (tests/test_extras.py)."""
    from syslog_spark.operators.dedup import connected_components

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id")
    )
    e1 = docs.filter(F.col("doc_id") < 30).select(
        F.col("doc_id").alias("a"), (F.col("doc_id") + 1000).alias("b")
    )
    e2 = docs.filter(F.col("doc_id") < 15).select(
        (F.col("doc_id") + 1000).alias("a"),
        (F.col("doc_id") + 2000).alias("b"),
    )
    comps = connected_components(e1.unionAll(e2))
    return comps.select(
        F.col("node").cast("bigint").alias("node"),
        F.col("component").cast("bigint").alias("component"),
    )


def q_minhash_neardup(spark, sf_dir):
    """Minhash-LSH near-dup over the REAL documents table, oracle-checked:
    DuckDB recomputes exact all-pairs shingle Jaccard (inverted-index
    formulation) and the LSH output must equal the >= 0.7 pairs exactly.
    Valid because banding at (64 hashes, 32 bands) detects a J=0.7 pair
    with p = 1-(1-0.7^2)^32 ~ 1-4e-10 and the verify stage is the same
    exact Jaccard both sides."""
    from syslog_spark.operators.dedup import near_duplicates_minhash

    docs = _t(spark, sf_dir, "documents")
    return (
        near_duplicates_minhash(docs, threshold=0.7, bands=32, n_hashes=64)
        .select(F.col("a").cast("bigint").alias("a"),
                F.col("b").cast("bigint").alias("b"))
    )


def q_dedup_pipeline(spark, sf_dir):
    """END-TO-END corpus dedup through the hash gate: minhash-LSH
    candidates -> exact-Jaccard verify -> connected components (local
    union-find, then star test / large-star rounds) -> keep-one-per-cluster,
    over the REAL documents table. The DuckDB oracle recomputes exact
    all-pairs shingle Jaccard (inverted index), takes the >= 0.7 pair
    graph's recursive-CTE closure, and keeps min-id representatives plus
    unpaired docs. Valid end-to-end because banding at (64, 32) has
    ~1-4e-10 recall at J=0.7 (see minhash_neardup, which pins the pair
    sets equal on this same corpus/params)."""
    from syslog_spark.operators.dedup import (
        dedupe_by_components, near_duplicates_minhash,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = near_duplicates_minhash(
        docs, threshold=0.7, bands=32, n_hashes=64
    )
    return dedupe_by_components(docs, pairs).select(
        F.col("doc_id").cast("bigint").alias("doc_id")
    )


def q_lsh_bucket_stats(spark, sf_dir):
    """The LSH monitoring side-output (cap-tuning observability: a
    bucket_size above the candidate cap means truncation happened)
    through the hash gate: 20 byte-identical docs + 100 distinct
    sha256-hex docs. The identical group fills exactly ONE bucket per
    band (size 20); the hex docs are band-collision-free on this
    deterministic corpus, so the >= min_size output is exactly 16 rows.
    The opaque bucket hash is dropped; (band, bucket_size) is the
    contract."""
    from syslog_spark.operators.dedup import lsh_bucket_stats

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 120).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.when(
            F.col("doc_id") < 20, F.lit("the hot identical document body")
        ).otherwise(F.sha2(F.col("doc_id").cast("string"), 256)).alias("text"),
    )
    return lsh_bucket_stats(docs, bands=16, n_hashes=64, min_size=2).select(
        F.col("band").cast("bigint").alias("band"),
        F.col("bucket_size").cast("bigint").alias("bucket_size"),
    )


def q_embedding_neardup_lsh(spark, sf_dir):
    """Blocked-LSH embedding near-dup (the 100-TB shape: no cross join),
    oracle-checked on a constructed corpus: each vec_id < 200 gets a
    planted near-copy at +10000 (first coordinate * 1.001, cosine
    ~0.9999); DuckDB recomputes exact all-pairs cosine. Pigeonhole miss
    probability at cos 0.9999 is ~1e-12."""
    from syslog_spark.operators.similarity import embedding_near_dups

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    a = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("embedding"),
    )
    b = a.select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.expr(
            "concat(array(embedding[0] * 1.001d), "
            "slice(embedding, 2, size(embedding) - 1))"
        ).alias("embedding"),
    )
    return (
        embedding_near_dups(a.unionAll(b), threshold=0.9, dim=64)
        .select(F.col("a").cast("bigint").alias("a"),
                F.col("b").cast("bigint").alias("b"))
    )


def q_ann_ivf(spark, sf_dir):
    """IVF with exhaustive probing (n_probe = n_centroids): exercises the
    whole IVF machinery (kmeans quantizer, assignment, probe join, rerank)
    while the output is provably the exact top-k regardless of where the
    centroids land — so the DuckDB brute-force SQL is a hash-exact oracle.
    The pruned path (n_probe < n_centroids) is recall-tested in pytest."""
    from syslog_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(emb, queries, k=5, n_centroids=8, n_probe=8).select(
        "query_id", "vec_id", F.col("rank").cast("bigint").alias("rank")
    )


def q_ann_ivf_pruned(spark, sf_dir):
    """The HONESTLY-PRUNED IVF path through the hash gate (round-2 verdict
    item: only the exhaustive n_probe=n_centroids config was gated).
    Construction: 8 planted clusters, member v = 100*e_{vec_id%8} +
    0.01*embedding (intra-cluster cosine ~1, inter ~0). The quantizer is
    EXPLICIT (the 8 scaled one-hot centers — ivf_topk's pretrained-
    centroids mode, pure-Catalyst argmin assignment, no KMeans FP
    nondeterminism), so every cluster provably maps to its own cell, a
    query's exact top-5 lives entirely in its own cell, and n_probe=2 of 8
    — a genuinely pruned search join touching 1/4 of the corpus — is
    provably exact. DuckDB recomputes brute-force top-5 over the same
    construction."""
    from syslog_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 320)
    planted = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, (x, i) -> "
            "if(i = cast(vec_id % 8 as int), 100.0d, 0.0d) "
            "+ 0.01d * cast(x as double))"
        ).alias("embedding"),
    )
    centers = [
        [100.0 if i == j else 0.0 for i in range(64)] for j in range(8)
    ]
    queries_df = planted.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(
        planted, queries_df, k=5, n_probe=2, centroids=centers
    ).select(
        "query_id", "vec_id", F.col("rank").cast("bigint").alias("rank")
    )


def q_ann_lsh(spark, sf_dir):
    """LSH ANN, oracle-checked on a planted-neighbour corpus: each query
    (vec_id < 3) gets four perturbed copies (v + eps*reverse(v), eps in
    0.02..0.08 -> cosines 0.997..0.9997, well separated) so the exact
    top-5 is {self + 4 plants}; block-LSH recall at those cosines is
    ~1-1e-5. DuckDB recomputes the exact top-5 with list_cosine_similarity
    over the same construction."""
    from syslog_spark.operators.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("embedding"),
    )
    plants = []
    for j in range(4):
        eps = 0.02 * (j + 1)
        plants.append(
            base.filter(F.col("vec_id") < 3).select(
                (F.col("vec_id") * 10 + F.lit(100000 + j)).alias("vec_id"),
                F.expr(
                    f"zip_with(embedding, reverse(embedding), "
                    f"(x, y) -> x + {eps}d * y)"
                ).alias("embedding"),
            )
        )
    corpus = base
    for p in plants:
        corpus = corpus.unionAll(p)
    queries = base.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_topk(corpus, queries, dim=64, k=5).select(
        "query_id", "vec_id", F.col("rank").cast("bigint").alias("rank")
    )


def _smoke_corpus_cache_path(sf_dir) -> str:
    """Single source of truth for the smoke-corpus cache location: the
    key includes the construction expression itself so edits to
    _RFC_LINE_SPARK invalidate the cached corpus (mirrors
    _STREAM_CORPUS_VERSION). Shared by smoke_token_corpus and
    smoke_token_corpus_path — a drifted copy would materialize under one
    path and read another (round-4 review finding)."""
    import hashlib
    import os

    key = hashlib.md5(
        (os.path.abspath(sf_dir) + _RFC_LINE_SPARK).encode()
    ).hexdigest()[:12]
    return f"/tmp/syslog_spark_smoke_{key}"


def smoke_token_corpus(spark, sf_dir):
    """Materialize the SQL-reconstructable ascii token corpus ONCE per
    sf_dir (parquet under /tmp, keyed by path): the per-char Catalyst
    tokenization (`transform(split(line,''))`) is gate-CONSTRUCTION cost —
    real input arrives as pre-tokenized parquet — so pipeline_smoke should
    measure parse+enrich+rollup over a token table, not the construction
    (round-2 verdict #6). Deterministic: pure function of the events
    table."""
    path = _smoke_corpus_cache_path(sf_dir)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        # shuffle barrier between construction and tokenization: stops
        # Catalyst collapsing the projections and re-inlining the 60-term
        # line expression into every per-char lambda (measured 12s vs ~1s)
        lines = _spread_if_narrow(_t(spark, sf_dir, "events").select(
            F.col("event_id").cast("string").alias("doc_id"),
            F.expr(_RFC_LINE_SPARK).alias("line"),
        ))
        tokens = lines.select(
            "doc_id",
            F.expr("transform(split(line, ''), c -> cast(ascii(c) as int))")
            .alias("tokens"),
            F.expr("cast(length(line) as int)").alias("n_tok"),
            F.lit("rfc5424").alias("source"),
        )
        tokens.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def smoke_token_corpus_path(spark, sf_dir) -> str:
    """Materialize (if needed) and return the smoke corpus DIRECTORY —
    for sources that consume a path (sources/direct.py)."""
    smoke_token_corpus(spark, sf_dir)
    return _smoke_corpus_cache_path(sf_dir)


def q_pipeline_smoke(spark, sf_dir):
    """Full tokens->parse->enrich path, oracle-checked: the token table is
    SQL-reconstructable (line -> per-byte ascii token arrays from the
    events table, materialized once by smoke_token_corpus), so
    detokenize + parse + enrich + rollup runs against a DuckDB-computable
    severity histogram."""
    from syslog_spark.operators.enrich import enrich

    p = enrich(parse_tokens(smoke_token_corpus(spark, sf_dir)))
    return (
        p.filter(F.col("error_msg").isNull())
        .groupBy(
            F.col("severity").cast("bigint").alias("severity"),
            "severity_name",
        )
        .agg(F.count(F.lit(1)).alias("rows"))
    )


def q_pipeline_direct(spark, sf_dir):
    """The fused pyarrow read+parse source (sources/direct.py — workers
    read the parquet splits themselves; no JVM row->Arrow feed) through
    the hash gate, over the same materialized token corpus and with the
    same severity-histogram oracle as pipeline_smoke: identical results
    through a completely different feed path is the correctness claim
    the 24%-at-32-cores bench win rests on."""
    from syslog_spark.operators.enrich import enrich
    from syslog_spark.sources.direct import parse_tokens_direct

    _ensure_shipped(spark)
    path = smoke_token_corpus_path(spark, sf_dir)
    p = enrich(parse_tokens_direct(spark, path))
    return (
        p.filter(F.col("error_msg").isNull())
        .groupBy(
            F.col("severity").cast("bigint").alias("severity"),
            "severity_name",
        )
        .agg(F.count(F.lit(1)).alias("rows"))
    )


_BOM = "﻿"


def q_parse_rfc5424_hard(spark, sf_dir):
    """Hard grammar corners through the hash gate, checked as full
    CANONICAL SERIALIZED LINES (parse + map semantics + serializer in one):
    multiple SD blocks emitted sorted, duplicate param keys last-wins,
    '-' param values dropped, duplicate sd-id resets the block
    (parsers.go:205), year-3000 nano timestamp, the implicit-fraction
    '.ddddZ' timestamp form, BOM-stripped message (non-ASCII -> exercises
    the oracle path), empty SD block at end-of-line."""
    h = "cast(pmod(user_id, 9) as int)"
    e = "cast(event_id as string)"
    line = (
        f"case pmod(event_id, 4) "
        f"when 0 then concat('<13>1 3000-01-02T03:04:05.123456789+05:30 h', {h}, "
        f"' app - m [zb k=\"v1\" k=\"v2\" drop=\"-\"][aa x=\"', event_type, "
        f"'\"] {_BOM}msg ev', {e}) "
        f"when 1 then concat('<180>1 2024-06-07T08:09:10.1234Z h', {h}, "
        f"' app p7 - [zz a=\"1\"][bb b=\"2\"] tail ev', {e}) "
        f"when 2 then concat('<0>1 - h', {h}, ' app - - [only]') "
        f"else concat('<191>1 - h', {h}, ' app - - [dd a=\"1\"][dd b=\"2\"] x ev', {e}) "
        f"end"
    )
    lines = _spread_events(spark, sf_dir).select(
        F.col("event_id").cast("string").alias("doc_id"),
        F.expr(line).alias("line"),
        F.lit("rfc5424").alias("source"),
    )
    p = with_canonical(parse_lines(lines))
    return p.select("doc_id", "canonical")


# --- streaming gates -----------------------------------------------------------

# hourly-spread timestamps so event-time windows are non-degenerate;
# severity = (event_id%192)%8, hour = event_id%24 — both DuckDB-derivable
_STREAM_LINE_SPARK = (
    "concat('<', cast(pmod(event_id, 192) as int), "
    "'>1 2024-01-01T', lpad(cast(pmod(event_id, 24) as string), 2, '0'), "
    "':', lpad(cast(pmod(event_id, 60) as string), 2, '0'), "
    "':00+00:00 host', cast(pmod(user_id, 50) as int), "
    "' app p1 - [meta k=\"', event_type, '\"] ev', event_id)"
)
_STREAM_CORPUS_VERSION = "v1"


def _table_stamp(sf_dir, table: str) -> str:
    """Content stamp of an input table file — cached derived corpora key
    on it so regenerating the testdata in place invalidates the /tmp
    cache instead of silently replaying stale rows against a fresh
    oracle (round-5 review)."""
    import os

    p = os.path.join(sf_dir, f"{table}.parquet")
    try:
        st = os.stat(p)
        return f"{st.st_mtime_ns}_{st.st_size}"
    except OSError:
        return "absent"


def stream_token_corpus(spark, sf_dir) -> str:
    """Materialize a deterministic token corpus for the streaming gates
    (parquet under /tmp, keyed by sf_dir + construction version). Written
    as several files so the file streaming source has a real listing."""
    import hashlib
    import os

    key = hashlib.md5(
        (os.path.abspath(sf_dir) + _STREAM_CORPUS_VERSION + _STREAM_LINE_SPARK
         + _table_stamp(sf_dir, "events"))
        .encode()
    ).hexdigest()[:12]
    path = f"/tmp/syslog_spark_stream_{key}"
    tok_dir = f"{path}/tokens"
    if not os.path.exists(os.path.join(tok_dir, "_SUCCESS")):
        lines = _spread_if_narrow(_t(spark, sf_dir, "events").select(
            F.col("event_id").cast("string").alias("doc_id"),
            F.expr(_STREAM_LINE_SPARK).alias("line"),
        ))
        tokens = lines.select(
            "doc_id",
            F.expr("transform(split(line, ''), c -> cast(ascii(c) as int))")
            .alias("tokens"),
            F.expr("cast(length(line) as int)").alias("n_tok"),
            F.lit("rfc5424").alias("source"),
        )
        tokens.write.mode("overwrite").parquet(tok_dir)
    return path


def q_streaming_window_counts(spark, sf_dir):
    """Structured Streaming end-to-end through the hash gate (round-2
    verdict #8: streaming had pytest-only evidence): file streaming source
    -> mapInArrow parse INSIDE a streaming query -> watermarked 1-hour
    event-time window rollup -> memory sink, drained with
    trigger(availableNow). Complete output mode makes the single-drain
    result deterministic (the watermark only gates append-mode emission);
    approx_hosts (HLL) is excluded — DuckDB can't reproduce a sketch.
    Window bounds returned as epoch micros to dodge tz/dtype skew."""
    import uuid

    from syslog_spark.streaming.stream_pipeline import (
        parse_stream, read_token_stream, windowed_severity_counts,
    )

    _ensure_shipped(spark)
    base = stream_token_corpus(spark, sf_dir)
    name = f"swc_{uuid.uuid4().hex[:8]}"
    q = (
        windowed_severity_counts(
            parse_stream(read_token_stream(spark, f"{base}/tokens")),
            window="1 hour", watermark="2 hours",
        )
        .drop("approx_hosts")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        F.unix_micros("window_start").alias("window_start_us"),
        F.unix_micros("window_end").alias("window_end_us"),
        F.col("severity").cast("bigint").alias("severity"),
        F.col("rows").cast("bigint").alias("rows"),
    )


def q_streaming_route_counts(spark, sf_dir):
    """The checkpointed streaming ROUTE sink through the hash gate:
    run_stream_once drains the corpus into the batch router's fan-out
    layout (partitionBy sink_severity/source, exactly-once file sink).
    Fixed checkpoint dir keyed by corpus: a re-invocation is a resume and
    must produce identical per-sink counts (the exactly-once contract is
    what makes this gate idempotent across driver reps)."""
    from syslog_spark.streaming.stream_pipeline import run_stream_once

    _ensure_shipped(spark)
    base = stream_token_corpus(spark, sf_dir)
    run_stream_once(
        spark, f"{base}/tokens", f"{base}/out", f"{base}/checkpoint"
    )
    routed = spark.read.parquet(f"{base}/out/routed")
    return routed.groupBy(
        F.col("sink_severity").cast("bigint").alias("sink_severity"),
        "source",
    ).agg(F.count(F.lit(1)).cast("bigint").alias("rows"))


def q_streaming_host_totals(spark, sf_dir):
    """The custom STATEFUL streaming operator through the hash gate (the
    last SURVEY §2.8 stage with pytest-only evidence): per-hostname
    running totals via applyInPandasWithState, drained with availableNow
    over maxFilesPerTrigger=2 so state genuinely carries ACROSS
    micro-batches. Update-mode memory sink emits one row per (host,
    batch) with the cumulative total; the gate folds that to the final
    state per host — max(running_total) must equal sum(batch_rows)
    (asserted structurally by the oracle computing BOTH columns from the
    same per-host count), independent of how the files were batched."""
    import uuid

    from syslog_spark.streaming.stream_pipeline import (
        host_running_totals, parse_stream, read_token_stream,
    )

    _ensure_shipped(spark)
    base = stream_token_corpus(spark, sf_dir)
    name = f"sht_{uuid.uuid4().hex[:8]}"
    q = (
        host_running_totals(
            parse_stream(
                read_token_stream(
                    spark, f"{base}/tokens", max_files_per_trigger=2
                )
            )
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).groupBy("hostname").agg(
        F.max("running_total").cast("bigint").alias("running_total"),
        F.sum("batch_rows").cast("bigint").alias("rows"),
    )


_STREAM_DOCS_VERSION = "v1"


def stream_docs_corpus(spark, sf_dir) -> str:
    """Planted-dup documents corpus for the streaming dedup gate, written
    as several parquet files so maxFilesPerTrigger yields real
    micro-batches. Same plant as dedup_exact: every doc_id<30 gains a
    byte-identical 'dup-<id>' copy, so digests genuinely span
    micro-batch boundaries (the copies land in different files via the
    repartition shuffle)."""
    import hashlib
    import os

    key = hashlib.md5(
        (os.path.abspath(sf_dir) + _STREAM_DOCS_VERSION
         + _table_stamp(sf_dir, "documents")).encode()
    ).hexdigest()[:12]
    path = f"/tmp/syslog_spark_streamdocs_{key}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        base = _t(spark, sf_dir, "documents")
        docs = base.select(
            F.explode(
                F.when(
                    F.col("doc_id") < 30,
                    F.array(
                        F.col("doc_id").cast("string"),
                        F.concat(F.lit("dup-"), F.col("doc_id").cast("string")),
                    ),
                ).otherwise(F.array(F.col("doc_id").cast("string")))
            ).alias("doc_id"),
            "text",
        )
        docs.repartition(8, "doc_id").write.mode("overwrite").parquet(path)
    return path


def q_streaming_dedup_exact(spark, sf_dir):
    """Stateful STREAMING exact-dedup through the hash gate: per-digest
    (min id, copies) state via applyInPandasWithState, drained with
    availableNow over maxFilesPerTrigger=2 so the planted duplicate
    groups span micro-batches and the fold genuinely merges state. The
    gate takes each digest's final state from the update stream
    (min keep / max count — both monotone) and must equal the batch
    GROUP BY md5(text) oracle exactly, independent of file batching."""
    import uuid

    from pyspark.sql import types as T

    from syslog_spark.streaming.stream_pipeline import streaming_dedup_exact

    _ensure_shipped(spark)
    path = stream_docs_corpus(spark, sf_dir)
    schema = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("text", T.StringType()),
    ])
    name = f"sde_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(path)
    )
    q = (
        streaming_dedup_exact(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).groupBy("digest").agg(
        F.min("keep_doc_id").alias("keep_doc_id"),
        F.max("n_docs").cast("bigint").alias("n_docs"),
    )


# --- oracle SQL ----------------------------------------------------------------


def _case_sql(col: str, names, invalid="Invalid") -> str:
    whens = " ".join(
        f"WHEN {col} = {i} THEN '{n}'" for i, n in enumerate(names)
    )
    return f"CASE {whens} ELSE '{invalid}' END"


_TENANT_DUCK = (
    "'tenant_' || ((ascii(substring(source, 1, 1)) + length(source)) % 4)"
)


def oracle_sql() -> dict[str, str]:
    fac_case = _case_sql("((event_id % 256) // 8)", C.FACILITY_NAMES)
    sev_case = _case_sql("((event_id % 256) % 8)", C.SEVERITY_NAMES)
    sevname_case = _case_sql("((event_id % 192) % 8)", C.SEVERITY_NAMES)
    return {
        "priority_decode": f"""
            SELECT event_id,
                   event_id % 256 AS pri,
                   (event_id % 256) // 8 AS facility,
                   (event_id % 256) % 8 AS severity,
                   (event_id % 256) <= 191 AS pri_valid,
                   (event_id % 256) // 8 <= 23 AS fac_valid,
                   TRUE AS sev_valid,
                   ((event_id % 256) // 8) * 8 + (event_id % 256) % 8
                       AS pri_rebuilt
            FROM events""",
        "priority_names": f"""
            SELECT event_id, {fac_case} AS facility_name,
                   {sev_case} AS severity_name
            FROM events""",
        "enrich_tenant": f"""
            SELECT doc_id, source, {_TENANT_DUCK} AS tenant FROM documents""",
        "enrich_joins": f"""
            SELECT CAST(event_id AS VARCHAR) AS doc_id,
                   {_case_sql("((event_id % 192) // 8)", C.FACILITY_NAMES)}
                       AS facility_name,
                   {_case_sql("((event_id % 192) % 8)", C.SEVERITY_NAMES)}
                       AS severity_name,
                   'tenant_' || ((ascii('r') + length('rfc5424')) % 4)
                       AS tenant
            FROM events""",
        "parse_rfc5424_fields": """
            SELECT CAST(event_id AS VARCHAR) AS doc_id,
                   event_id % 192 AS priority,
                   (event_id % 192) // 8 AS facility,
                   (event_id % 192) % 8 AS severity,
                   CAST(1 AS BIGINT) AS version,
                   'host' || (user_id % 50) AS hostname,
                   event_type AS appname,
                   'p' || (event_id % 97) AS proc_id,
                   'm' || (event_id % 13) AS msg_id,
                   'ev' || event_id AS message
            FROM events""",
        "parse_rfc5424_data": """
            SELECT CAST(event_id AS VARCHAR) AS doc_id,
                   'meta' AS sd_id, 'k' AS param_key,
                   event_type AS param_value, CAST(1 AS BIGINT) AS n_blocks
            FROM events""",
        "parse_timestamps": """
            SELECT CAST(o_orderkey AS VARCHAR) AS doc_id,
                   epoch_us(o_orderdate) AS ts_micros,
                   CAST(0 AS BIGINT) AS tz_offset_seconds
            FROM orders""",
        "parse_nginx_access": """
            SELECT CAST(event_id AS VARCHAR) AS doc_id,
                   CAST(190 AS BIGINT) AS priority,
                   'host' || (user_id % 50) AS hostname,
                   'nginx' AS appname,
                   'request' AS sd_id,
                   CAST(event_id % 600 AS VARCHAR) AS status,
                   CAST(event_id % 5000 AS VARCHAR) AS bytes,
                   epoch_us(TIMESTAMP '2024-10-05 12:05:15') AS ts_micros
            FROM events""",
        "parse_nginx_error": """
            SELECT CAST(event_id AS VARCHAR) AS doc_id,
                   'h' || (user_id % 9) AS hostname,
                   'nginx' AS appname,
                   'fail ev' || event_id AS message,
                   '10.0.0.' || (event_id % 255) AS client,
                   'srv' || (event_id % 7) AS server,
                   'GET /' || event_type || ' HTTP/1.1' AS request
            FROM events""",
        "serialize_roundtrip": """
            SELECT count(*) AS n_rows, count(*) AS n_roundtrip FROM events""",
        "error_sink": """
            SELECT CAST(event_id AS VARCHAR) AS doc_id,
                   CASE WHEN event_id % 7 = 0 THEN
                     'syslog: format incorrect: priority can''t be empty, at column 2'
                   END AS error_msg,
                   CAST(CASE WHEN event_id % 7 = 0 THEN 2 END AS BIGINT) AS error_column
            FROM events""",
        "error_classes": """
            SELECT CAST(event_id AS VARCHAR) AS doc_id,
                   CASE event_id % 6
                     WHEN 0 THEN 'syslog: format incorrect: priority can''t be empty, at column 2'
                     WHEN 1 THEN 'syslog: format incorrect: priority not a number: abc, at column 2'
                     WHEN 2 THEN 'syslog: format incorrect: priority too long, at column 5'
                     WHEN 3 THEN 'syslog: format incorrect: version not a number: a, at column 4'
                     WHEN 4 THEN 'syslog: format incorrect: timestamp is not following an accepted format, at column 6'
                   END AS error_msg,
                   CAST(CASE event_id % 6 WHEN 0 THEN 2 WHEN 1 THEN 2 WHEN 2 THEN 5
                        WHEN 3 THEN 4 WHEN 4 THEN 6 END AS BIGINT) AS error_column,
                   CAST(CASE event_id % 6 WHEN 0 THEN 0 WHEN 1 THEN 0 WHEN 2 THEN 0
                        WHEN 3 THEN 3 WHEN 4 THEN 5 END AS BIGINT) AS failed_stage
            FROM events""",
        "route_counts": """
            SELECT (event_id % 192) % 8 AS severity, count(*) AS rows
            FROM events GROUP BY 1""",
        "severity_rollup": f"""
            SELECT (event_id % 192) % 8 AS severity,
                   {sevname_case} AS severity_name,
                   count(*) AS rows,
                   count(DISTINCT 'host' || (user_id % 50))
                       AS distinct_hostnames
            FROM events GROUP BY 1, 2""",
        "agg_per_sink": f"""
            SELECT (event_id % 192) % 8 AS severity,
                   count(*) AS rows,
                   count(DISTINCT 'host' || (user_id % 50))
                       AS distinct_hostnames,
                   CAST(min(length({_RFC_LINE_DUCK})) AS BIGINT) AS min_len,
                   CAST(max(length({_RFC_LINE_DUCK})) AS BIGINT) AS max_len,
                   CAST(sum(length({_RFC_LINE_DUCK})) AS BIGINT) AS sum_len
            FROM events GROUP BY 1""",
        "percentiles": """
            SELECT lang, round(quantile_cont(n_chars, 0.5), 4) AS p50,
                   round(quantile_cont(n_chars, 0.95), 4) AS p95,
                   count(*) AS n
            FROM documents GROUP BY lang""",
        "distinct_users": """
            SELECT event_type, count(DISTINCT user_id) AS distinct_users,
                   count(*) AS n
            FROM events GROUP BY event_type""",
        "window_topk": """
            SELECT o_custkey, o_orderkey,
                   row_number() OVER (
                     PARTITION BY o_custkey
                     ORDER BY o_totalprice DESC, o_orderkey) AS rank
            FROM orders QUALIFY rank <= 3""",
        "join_broadcast": """
            SELECT c_mktsegment, count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS revenue
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment""",
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                       AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus""",
        "dedup_exact": """
            WITH corpus AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents
              UNION ALL
              SELECT 'dup-' || doc_id AS doc_id, text
              FROM documents WHERE doc_id < 30
            )
            SELECT md5(text) AS digest, count(*) AS n_docs,
                   min(doc_id) AS keep_doc_id
            FROM corpus GROUP BY 1 HAVING count(*) > 1""",
        "fingerprint": r"""
            SELECT doc_id,
                   md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
                       AS fingerprint
            FROM documents""",
        "token_counts": r"""
            SELECT doc_id,
                   CAST(CASE WHEN trim(text) = '' THEN 0
                        ELSE len(string_split_regex(trim(text), '\s+')) END
                       AS BIGINT) AS n_tokens,
                   length(text) AS n_chars_q
            FROM documents""",
        "quality": r"""
            SELECT doc_id,
                   len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                       x -> x IN ('the','a','of','and','to','in','is','it',
                                  'that','for'))) :: BIGINT AS stopwords,
                   CAST(length(text) - length(replace(text, '.', '')) AS BIGINT) AS dots,
                   round(len(list_filter(
                       string_split_regex(lower(trim(text)), '\s+'),
                       x -> x IN ('the','a','of','and','to','in','is','it',
                                  'that','for'))) * 1.0
                     / greatest(CASE WHEN trim(text) = '' THEN 0
                         ELSE len(string_split_regex(trim(text), '\s+')) END,
                         1), 4) AS stopword_ratio
            FROM documents""",
        "lang_id": _LANG_ID_DUCK,
        "document_stats": r"""
            WITH w AS (
              SELECT doc_id, text,
                     string_split_regex(trim(text), '\s+') AS wt,
                     string_split_regex(lower(trim(text)), '\s+') AS wl
              FROM documents
            ), base AS (
              SELECT doc_id, text,
                CASE WHEN trim(text) = '' THEN 0 ELSE len(wt) END AS ntok,
                len(list_filter(wl, x -> x IN ('the','a','of','and','to',
                    'in','is','it','that','for'))) AS nstop,
                (  (length(text) - length(replace(text, '.', '')))
                 + (length(text) - length(replace(text, ',', '')))
                 + (length(text) - length(replace(text, ';', '')))
                 + (length(text) - length(replace(text, ':', '')))
                 + (length(text) - length(replace(text, '!', '')))
                 + (length(text) - length(replace(text, '?', '')))
                 + (length(text) - length(replace(text, '''', '')))
                 + (length(text) - length(replace(text, '"', '')))
                 + (length(text) - length(replace(text, '(', '')))
                 + (length(text) - length(replace(text, ')', '')))
                 + (length(text) - length(replace(text, '[', '')))
                 + (length(text) - length(replace(text, ']', '')))
                 + (length(text) - length(replace(text, '{', '')))
                 + (length(text) - length(replace(text, '}', '')))
                ) * 1.0 / greatest(length(text), 1) AS pr,
                list_aggregate(list_transform(wt, x -> length(x)), 'sum')
                  * 1.0 / greatest(len(wt), 1) AS mwl,
                len(list_filter(wl, x -> x IN ('the','and','of','is',
                    'that'))) AS s_en,
                len(list_filter(wl, x -> x IN ('der','die','und','ist',
                    'nicht'))) AS s_de,
                len(list_filter(wl, x -> x IN ('le','la','et','est',
                    'les'))) AS s_fr,
                len(list_filter(wl, x -> x IN ('el','la','que','de',
                    'es'))) AS s_es
              FROM w
            )
            SELECT doc_id,
              length(text) AS n_chars_c,
              CAST(ntok AS BIGINT) AS n_tokens_ws,
              CAST(floor(pr * 10000.0) AS BIGINT) AS punct_ratio_e4,
              CAST(floor(nstop * 1.0 / greatest(ntok, 1) * 10000.0)
                   AS BIGINT) AS stopword_ratio_e4,
              CAST(floor((  least(length(text) / 200.0, 1.0)
                     + least(nstop * 1.0 / greatest(ntok, 1) * 5.0, 1.0)
                     + 1.0 - least(pr * 4.0, 1.0)
                     + CASE WHEN mwl >= 3 AND mwl <= 10
                            THEN 1.0 ELSE 0.3 END) / 4.0 * 10000.0)
                   AS BIGINT) AS quality_e4,
              CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
                   WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                   WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
                   WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
                   ELSE 'es' END AS lang_pred,
              md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
                  AS fingerprint
            FROM base""",
        "ann_brute_force": """
            SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                   row_number() OVER (
                     PARTITION BY q.vec_id
                     ORDER BY list_cosine_similarity(
                       CAST(c.embedding AS DOUBLE[]),
                       CAST(q.embedding AS DOUBLE[])) DESC, c.vec_id) AS rank
            FROM embeddings c, embeddings q
            WHERE q.vec_id < 5
            QUALIFY rank <= 5""",
        "minhash_pairs": """
            SELECT 'a-' || event_id AS a, 'b-' || event_id AS b
            FROM events""",
        "simhash_pairs": """
            SELECT 'a-' || event_id AS a, 'b-' || event_id AS b
            FROM events""",
        "minhash_neardup": """
            WITH sh AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       generate_series(1, greatest(length(text)-4, 1)),
                       i -> substring(text, i, 5))) AS s
              FROM documents
            ), sz AS (
              SELECT doc_id, len(s) AS n FROM sh
            ), ex AS (
              SELECT doc_id, unnest(s) AS g FROM sh
            ), common AS (
              SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
              FROM ex x JOIN ex y ON x.g = y.g AND x.doc_id < y.doc_id
              GROUP BY 1, 2
            )
            SELECT a, b FROM common
            JOIN sz sa ON sa.doc_id = a
            JOIN sz sb ON sb.doc_id = b
            WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.7""",
        "dedup_pipeline": """
            WITH RECURSIVE sh AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       generate_series(1, greatest(length(text)-4, 1)),
                       i -> substring(text, i, 5))) AS s
              FROM documents
            ), sz AS (
              SELECT doc_id, len(s) AS n FROM sh
            ), ex AS (
              SELECT doc_id, unnest(s) AS g FROM sh
            ), common AS (
              SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
              FROM ex x JOIN ex y ON x.g = y.g AND x.doc_id < y.doc_id
              GROUP BY 1, 2
            ), pairs AS (
              SELECT a, b FROM common
              JOIN sz sa ON sa.doc_id = a
              JOIN sz sb ON sb.doc_id = b
              WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.7
            ), edges AS (
              SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs
            ), reach(node, label) AS (
              SELECT a, a FROM edges
              UNION
              SELECT e.a, r.label FROM edges e JOIN reach r ON r.node = e.b
            ), drop_ids AS (
              SELECT node FROM reach GROUP BY node
              HAVING node != min(label)
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents
            WHERE doc_id NOT IN (SELECT node FROM drop_ids)""",
        "lsh_bucket_stats": """
            SELECT CAST(band AS BIGINT) AS band,
                   CAST(20 AS BIGINT) AS bucket_size
            FROM generate_series(0, 15) t(band)""",
        "embedding_neardup_lsh": """
            WITH a AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings WHERE vec_id < 200
            ), b AS (
              SELECT vec_id + 10000 AS vec_id,
                     list_concat([v[1] * 1.001], v[2:]) AS v
              FROM a
            ), c AS (
              SELECT * FROM a UNION ALL SELECT * FROM b
            )
            SELECT x.vec_id AS a, y.vec_id AS b
            FROM c x, c y
            WHERE x.vec_id < y.vec_id
              AND list_cosine_similarity(x.v, y.v) >= 0.9""",
        "ann_ivf": """
            SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                   row_number() OVER (
                     PARTITION BY q.vec_id
                     ORDER BY list_cosine_similarity(
                       CAST(c.embedding AS DOUBLE[]),
                       CAST(q.embedding AS DOUBLE[])) DESC, c.vec_id) AS rank
            FROM embeddings c, embeddings q
            WHERE q.vec_id < 3
            QUALIFY rank <= 5""",
        "ann_ivf_pruned": """
            WITH c AS (
              SELECT vec_id,
                     list_transform(generate_series(0, 63), i ->
                       (CASE WHEN i = vec_id % 8 THEN 100.0 ELSE 0.0 END)
                       + 0.01 * CAST(embedding[i + 1] AS DOUBLE)) AS v
              FROM embeddings WHERE vec_id < 320
            )
            SELECT q.vec_id AS query_id, x.vec_id AS vec_id,
                   row_number() OVER (
                     PARTITION BY q.vec_id
                     ORDER BY list_cosine_similarity(x.v, q.v) DESC,
                              x.vec_id) AS rank
            FROM c x, c q
            WHERE q.vec_id < 3
            QUALIFY rank <= 5""",
        "ann_lsh": """
            WITH base AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            ), plants AS (
              SELECT b.vec_id * 10 + 100000 + j.j AS vec_id,
                     list_transform(generate_series(1, len(v)),
                       i -> v[i] + (0.02 * (j.j + 1)) * v[len(v) - i + 1]) AS v
              FROM base b, (SELECT unnest([0, 1, 2, 3]) AS j) j
              WHERE b.vec_id < 3
            ), corpus AS (
              SELECT * FROM base UNION ALL SELECT * FROM plants
            )
            SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                   row_number() OVER (
                     PARTITION BY q.vec_id
                     ORDER BY list_cosine_similarity(c.v, q.v) DESC,
                              c.vec_id) AS rank
            FROM corpus c, base q
            WHERE q.vec_id < 3
            QUALIFY rank <= 5""",
        "multimodal_features": (
            """
            SELECT printf('m%04d', i) AS doc_id,
                   (['image', 'audio', 'video'])[CAST(i % 3 AS INT) + 1]
                       AS modality,
                   CAST(64 AS BIGINT) AS feature_dim,
                   digest AS feature_digest,
                   CAST(NULL AS VARCHAR) AS decode_error
            FROM (VALUES """
            + ", ".join(
                f"({i}, '{d}')" for i, d in enumerate(_MM_FEATURE_DIGESTS)
            )
            + ") t(i, digest)"
        ),
        "multimodal_decode": (
            """
            SELECT printf('r%04d', i) AS doc_id,
                   CASE WHEN digest IS NULL THEN 'image'
                        WHEN i % 3 = 2 THEN 'audio'
                        ELSE 'image' END AS modality,
                   CASE WHEN digest IS NULL THEN NULL
                        ELSE CAST(64 AS BIGINT) END AS feature_dim,
                   digest AS feature_digest,
                   CASE WHEN digest IS NULL THEN '"""
            + _MM_DECODE_ERR
            + """'
                        ELSE NULL END AS decode_error
            FROM (VALUES """
            + ", ".join(
                f"({i}, " + ("NULL" if d is None else f"'{d}'") + ")"
                for i, d in enumerate(_MM_DECODE_DIGESTS)
            )
            + ") t(i, digest)"
        ),
        "dedup_components": """
            WITH RECURSIVE dirs AS (
              SELECT doc_id AS a, doc_id + 1000 AS b
              FROM documents WHERE doc_id < 30
              UNION ALL
              SELECT doc_id + 1000 AS a, doc_id + 2000 AS b
              FROM documents WHERE doc_id < 15
            ), edges AS (
              SELECT a, b FROM dirs UNION ALL SELECT b AS a, a AS b FROM dirs
            ), reach(node, label) AS (
              SELECT a, a FROM edges
              UNION
              SELECT e.a, r.label FROM edges e JOIN reach r ON r.node = e.b
            )
            SELECT CAST(node AS BIGINT) AS node,
                   CAST(min(label) AS BIGINT) AS component
            FROM reach GROUP BY node""",
        "streaming_window_counts": """
            SELECT epoch_us(TIMESTAMP '2024-01-01 00:00:00'
                            + to_hours(CAST(event_id % 24 AS BIGINT)))
                       AS window_start_us,
                   epoch_us(TIMESTAMP '2024-01-01 00:00:00'
                            + to_hours(CAST(event_id % 24 + 1 AS BIGINT)))
                       AS window_end_us,
                   (event_id % 192) % 8 AS severity,
                   count(*) AS rows
            FROM events GROUP BY 1, 2, 3""",
        "streaming_route_counts": """
            SELECT (event_id % 192) % 8 AS sink_severity,
                   'rfc5424' AS source,
                   count(*) AS rows
            FROM events GROUP BY 1, 2""",
        "streaming_host_totals": """
            SELECT 'host' || (user_id % 50) AS hostname,
                   count(*) AS running_total,
                   count(*) AS rows
            FROM events GROUP BY 1""",
        "streaming_dedup_exact": """
            WITH corpus AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents
              UNION ALL
              SELECT 'dup-' || doc_id AS doc_id, text
              FROM documents WHERE doc_id < 30
            )
            SELECT md5(text) AS digest, min(doc_id) AS keep_doc_id,
                   count(*) AS n_docs
            FROM corpus GROUP BY 1""",
        "pipeline_smoke": f"""
            SELECT (event_id % 192) % 8 AS severity,
                   {_case_sql("((event_id % 192) % 8)", C.SEVERITY_NAMES)}
                       AS severity_name,
                   count(*) AS rows
            FROM events GROUP BY 1, 2""",
        "pipeline_direct": f"""
            SELECT (event_id % 192) % 8 AS severity,
                   {_case_sql("((event_id % 192) % 8)", C.SEVERITY_NAMES)}
                       AS severity_name,
                   count(*) AS rows
            FROM events GROUP BY 1, 2""",
        "parse_rfc5424_hard": """
            SELECT CAST(event_id AS VARCHAR) AS doc_id,
              CASE event_id % 4
                WHEN 0 THEN '<13>1 3000-01-02T03:04:05.123456789+05:30 h'
                  || (user_id % 9) || ' app - m [aa x="' || event_type
                  || '"][zb k="v2"] msg ev' || event_id
                WHEN 1 THEN '<180>1 2024-06-07T08:09:10.1234Z h'
                  || (user_id % 9) || ' app p7 - [bb b="2"][zz a="1"] tail ev'
                  || event_id
                WHEN 2 THEN '<0>1 - h' || (user_id % 9) || ' app - - [only]'
                ELSE '<191>1 - h' || (user_id % 9)
                  || ' app - - [dd b="2"] x ev' || event_id
              END AS canonical
            FROM events""",
        "embedding_neardup": """
            WITH base AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings WHERE vec_id < 50
            ), planted AS (
              SELECT vec_id + 10000 AS vec_id,
                     list_concat([v[1] * 1.001], v[2:]) AS v
              FROM base
            ), c AS (
              SELECT * FROM base UNION ALL SELECT * FROM planted
            )
            SELECT x.vec_id AS a, y.vec_id AS b
            FROM c x, c y
            WHERE x.vec_id < y.vec_id
              AND list_cosine_similarity(x.v, y.v) >= 0.9""",
    }


_LANG_ID_DUCK = r"""
WITH w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
  FROM documents
), s AS (
  SELECT doc_id,
    len(list_filter(ws, x -> x IN ('the','and','of','is','that'))) AS s_en,
    len(list_filter(ws, x -> x IN ('der','die','und','ist','nicht'))) AS s_de,
    len(list_filter(ws, x -> x IN ('le','la','et','est','les'))) AS s_fr,
    len(list_filter(ws, x -> x IN ('el','la','que','de','es'))) AS s_es
  FROM w
)
SELECT doc_id,
  CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
       WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
       WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
       WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
       ELSE 'es' END AS lang_pred
FROM s"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "priority_decode": q_priority_decode,
        "priority_names": q_priority_names,
        "enrich_tenant": q_enrich_tenant,
        "enrich_joins": q_enrich_joins,
        "parse_rfc5424_fields": q_parse_rfc5424_fields,
        "parse_rfc5424_data": q_parse_rfc5424_data,
        "parse_timestamps": q_parse_timestamps,
        "parse_nginx_access": q_parse_nginx_access,
        "parse_nginx_error": q_parse_nginx_error,
        "serialize_roundtrip": q_serialize_roundtrip,
        "error_sink": q_error_sink,
        "error_classes": q_error_classes,
        "route_counts": q_route_counts,
        "multimodal_features": q_multimodal_features,
        "multimodal_decode": q_multimodal_decode,
        "severity_rollup": q_severity_rollup,
        "agg_per_sink": q_agg_per_sink,
        "percentiles": q_percentiles,
        "distinct_users": q_distinct_users,
        "window_topk": q_window_topk,
        "join_broadcast": q_join_broadcast,
        "tpch_q1": q_tpch_q1,
        "dedup_exact": q_dedup_exact,
        "fingerprint": q_fingerprint,
        "token_counts": q_token_counts,
        "quality": q_quality,
        "lang_id": q_lang_id,
        "document_stats": q_document_stats,
        "ann_brute_force": q_ann_brute_force,
        "embedding_neardup": q_embedding_neardup,
        "embedding_neardup_lsh": q_embedding_neardup_lsh,
        "minhash_pairs": q_minhash_pairs,
        "simhash_pairs": q_simhash_pairs,
        "minhash_neardup": q_minhash_neardup,
        "dedup_pipeline": q_dedup_pipeline,
        "lsh_bucket_stats": q_lsh_bucket_stats,
        "dedup_components": q_dedup_components,
        "ann_lsh": q_ann_lsh,
        "ann_ivf": q_ann_ivf,
        "ann_ivf_pruned": q_ann_ivf_pruned,
        "pipeline_smoke": q_pipeline_smoke,
        "pipeline_direct": q_pipeline_direct,
        "parse_rfc5424_hard": q_parse_rfc5424_hard,
        "streaming_window_counts": q_streaming_window_counts,
        "streaming_route_counts": q_streaming_route_counts,
        "streaming_host_totals": q_streaming_host_totals,
        "streaming_dedup_exact": q_streaming_dedup_exact,
    }


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: construct RFC 5424 lines from sf0.001 events, run the full
    parse -> enrich -> severity rollup path."""
    from syslog_spark.operators.enrich import enrich

    sf_dir = "/root/testdata/sf0.001"
    p = enrich(_parse_rfc(spark, sf_dir))
    return (
        p.filter(F.col("error_msg").isNull())
        .groupBy("severity", "severity_name", "facility_name")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.count_distinct("hostname").alias("distinct_hostnames"),
        )
        .orderBy("severity")
    )
