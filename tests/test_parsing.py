"""P1-P3 parse semantics: silent drop of malformed/EOS/invalid records
(DataInstanceParser.scala:12-22, DataPointParser.scala:14-59)."""

from __future__ import annotations

import json

from omldm_spark.functions.parsing import (
    parse_data_instances,
    parse_double_array,
    parse_requests,
    to_usable_points,
)


def _raw(spark, values):
    return spark.createDataFrame([(v,) for v in values], ["value"])


def test_drops_malformed_eos_and_invalid(spark):
    good = json.dumps(
        {"id": 1, "numericalFeatures": [1.0, 2.0], "target": 1.0,
         "operation": "training"}
    )
    unlabeled = json.dumps(
        {"id": 2, "numericalFeatures": [3.0], "operation": "forecasting"}
    )
    no_features = json.dumps({"id": 3, "operation": "training"})
    bad_op = json.dumps({"id": 4, "numericalFeatures": [1.0], "operation": "x"})
    raw = _raw(spark, [good, unlabeled, no_features, bad_op, "EOS", "{oops", ""])
    out = parse_data_instances(raw)
    assert sorted(r["id"] for r in out.collect()) == [1, 2]


def test_labeled_unlabeled_discriminator(spark):
    rows = [
        json.dumps({"id": 1, "numericalFeatures": [1.0], "target": 2.0,
                    "operation": "training"}),
        json.dumps({"id": 2, "numericalFeatures": [1.0],
                    "operation": "forecasting"}),
    ]
    pts = to_usable_points(parse_data_instances(_raw(spark, rows)))
    kinds = {r["id"]: r["kind"] for r in pts.collect()}
    assert kinds == {1: "labeled", 2: "unlabeled"}
    # null feature arrays are coalesced to empty, never null
    row = pts.filter("id = 1").first()
    assert row["discreteFeatures"] == []
    assert row["categoricalFeatures"] == []


def test_parse_requests_validates(spark):
    ok = json.dumps({"id": 1, "request": "Create",
                     "learner": {"name": "PA"}})
    bad_req = json.dumps({"id": 2, "request": "Explode"})
    no_id = json.dumps({"request": "Create"})
    out = parse_requests(_raw(spark, [ok, bad_req, no_id, "junk"]))
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["id"] == 1
    assert rows[0]["learner"]["name"] == "PA"


def test_parse_double_array(spark):
    df = spark.createDataFrame([("1.0,2.5,3",)], ["s"])
    arr = df.select(parse_double_array("s").alias("a")).first()["a"]
    assert arr == [1.0, 2.5, 3.0]


def test_caller_filter_on_parsed_output_parses_once_and_correct(spark):
    """A caller filter on the parsed frame keeps the malformed-row silent
    drop correct, and the plan parses each line once: exactly one
    MapInArrow (the NDJSON kernel) and no from_json anywhere."""
    import json as _json

    from pyspark.sql import functions as F

    from omldm_spark.functions.parsing import parse_data_instances

    raws = [
        _json.dumps({"id": i, "operation": "training",
                     "numericalFeatures": [float(i)], "target": 1.0})
        for i in range(6)
    ] + ["not json at all", _json.dumps({"id": 99, "operation": "explode"})]
    raw = spark.createDataFrame([(s,) for s in raws], ["value"])
    parsed = parse_data_instances(raw)

    filtered = parsed.filter(F.col("id") >= 3)
    got = sorted(r["id"] for r in filtered.collect())
    assert got == [3, 4, 5]  # malformed + invalid-op rows silently dropped

    plan = filtered._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("MapInArrow") == 1
    assert "from_json" not in plan


GOOD_LINES = [
    json.dumps({"id": i, "numericalFeatures": [float(i)], "target": 1.0,
                "operation": "training"})
    for i in (1, 2, 3)
] + [
    # unknown fields are ignored, not a reason to reject
    json.dumps({"id": 5, "discreteFeatures": [2], "operation": "forecasting",
                "provenance": "upstream-v2"}),
]
MALFORMED_LINES = [
    '{"id":"abc","numericalFeatures":[1.0],"operation":"training"}',
    '{"id":6,"numericalFeatures":"x","operation":"training"}',
    '{"id":4.5,"numericalFeatures":[1.0],"operation":"training"}',
    "123",
    "  ",
    "",
    '"  "',
    "null",
    "EOS",
    '{"id":7,"numericalFeatures":[1.0],"operation":"training"}{"id":8}',
]


def test_drop_lane_is_the_quarantine_good_lane_on_planted_lines(spark):
    """One malformed rule for both lanes: wrong-typed fields, non-object
    JSON, blank lines and two objects on one line are malformed_json in
    the quarantine lane and absent from the drop lane — planted in the
    same partition as good rows, with no task failing and no value
    coerced.  The drop lane is the quarantine lane's good rows."""
    from collections import Counter

    from omldm_spark.functions.parsing import parse_data_instances_quarantine

    bad_op = json.dumps({"id": 9, "numericalFeatures": [1.0],
                         "operation": "x"})
    lines = GOOD_LINES + MALFORMED_LINES + [bad_op]
    raw = _raw(spark, lines).coalesce(1)
    dropped = parse_data_instances(raw).collect()
    quarantined = parse_data_instances_quarantine(raw).collect()

    assert sorted(r["id"] for r in dropped) == [1, 2, 3, 5]
    assert len(quarantined) == len(lines)
    good = [tuple(r)[:-1] for r in quarantined if r["reject_reason"] is None]
    assert Counter(repr(tuple(r)) for r in dropped) == Counter(map(repr, good))
    reasons = Counter(r["reject_reason"] for r in quarantined)
    assert reasons == {None: len(GOOD_LINES),
                       "malformed_json": len(MALFORMED_LINES),
                       "bad_operation": 1}


def _kernel_rows(lines, per_line: bool):
    """(good rows in output order, malformed count) of the NDJSON kernel
    over ``lines`` as one Arrow batch, or as one batch per line (the
    line-by-line read)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from omldm_spark.functions.parsing import _line_parser
    from omldm_spark.schemas import DATA_INSTANCE_SCHEMA

    parse = _line_parser(to_arrow_schema(DATA_INSTANCE_SCHEMA))
    runs = [[ln] for ln in lines] if per_line else [lines]
    batches = [pa.record_batch([pa.array(r, pa.string())], names=["value"])
               for r in runs]
    out = pa.Table.from_batches(list(parse(iter(batches)))).to_pylist()
    return ([r for r in out if not r.pop("_malformed")],
            sum(r["id"] is None for r in out))


def test_bad_line_bisection_matches_line_by_line_read():
    """A batch holding bad lines reads its good runs in one call each
    (bisection) and gives the rows and _malformed flags the line-by-line
    read gives: junk planted at the first, middle and last line, and two
    objects on one line."""
    lines = [json.dumps({"id": i, "numericalFeatures": [i / 4, -1.0],
                         "target": 1.0, "operation": "training"})
             for i in range(37)]
    junk = '{"id": "junk", "numericalFeatures": [1.0]'
    for pos, bad in ((0, junk), (18, junk), (36, junk),
                     (11, lines[11] + lines[12])):
        planted = lines[:pos] + [bad] + lines[pos + 1:]
        good, malformed = _kernel_rows(planted, per_line=False)
        assert (good, malformed) == _kernel_rows(planted, per_line=True)
        assert malformed == 1
        assert [r["id"] for r in good] == [i for i in range(37) if i != pos]
    everything = [junk, *lines[:5], lines[5] + lines[6], *lines[7:], junk]
    assert _kernel_rows(everything, False) == _kernel_rows(everything, True)


def test_chunk_words_udtf_lateral_sql(spark):
    """Python UDTF surface (§2.10): registered table function usable
    from pure SQL via LATERAL, correct ordering, trailing partial
    window, and empty-text contract."""
    from omldm_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)
    spark.createDataFrame(
        [(1, "a b c d e"), (2, "x"), (3, None)],
        "doc_id long, text string",
    ).createOrReplaceTempView("udtf_docs")
    rows = spark.sql(
        "SELECT d.doc_id, t.chunk_idx, t.n_words, t.chunk "
        "FROM udtf_docs d, LATERAL chunk_words(d.text, 2) t "
        "ORDER BY d.doc_id, t.chunk_idx"
    ).collect()
    got = [(r.doc_id, r.chunk_idx, r.n_words, r.chunk) for r in rows]
    assert got == [
        (1, 0, 2, "a b"), (1, 1, 2, "c d"), (1, 2, 1, "e"),
        (2, 0, 1, "x"),
    ]  # doc 3 (null text) emits nothing


def test_sql_surface_end_to_end(spark):
    """SQL-first usability: register_views + the registered UDTFs give a
    SQL-only user the whole analytic surface — here a revenue rollup
    joined through two dims plus a LATERAL UDTF, no DataFrame API."""
    from omldm_spark.functions.udtfs import register_udtfs
    from omldm_spark.io import register_views

    register_views(spark, "/root/testdata/sf0.001")
    register_udtfs(spark)
    row = spark.sql(
        "SELECT n.n_name, "
        "CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)) "
        "AS BIGINT) AS rev_c "
        "FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey "
        "JOIN nation n ON s.s_nationkey = n.n_nationkey "
        "GROUP BY n.n_name ORDER BY rev_c DESC LIMIT 1"
    ).collect()[0]
    assert row["rev_c"] > 0
    chunks = spark.sql(
        "SELECT count(*) AS c FROM documents d, "
        "LATERAL chunk_words(d.text, 50) t"
    ).collect()[0]["c"]
    assert chunks >= spark.table("documents").count()
