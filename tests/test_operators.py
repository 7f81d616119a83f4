"""Operator semantics on whistler-style fixtures (FIXTURES.md schemas)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from ncpi_whistler_spark.operators.aggregators import aggregate_columns, classify_columns
from ncpi_whistler_spark.operators.harmonize import add_display_columns, harmonize
from ncpi_whistler_spark.operators.nest import embed, group_to_nested
from ncpi_whistler_spark.operators.relational import as_of_join
from ncpi_whistler_spark.functions import harmonize as H
from ncpi_whistler_spark.sources.harmony import ConceptMap


@pytest.fixture(scope="module")
def specimen(spark):
    return spark.createDataFrame(
        [
            ("S1", "P1", "blood", "1.0"),
            ("S2", "P1", "saliva", "2.0"),
            ("S3", "P2", "blood", "0.5"),
        ],
        "sample_id string, participant_id string, sample_type string, volume string",
    )


@pytest.fixture(scope="module")
def file_manifest(spark):
    return spark.createDataFrame(
        [
            ("S1", "f1.bam", "bam", "10"),
            ("S1", "f2.vcf", "vcf", "1"),
            ("S3", "f3.bam", "bam", "12"),
        ],
        "sample_id string, file_name string, file_type string, size_mb string",
    )


def test_embed_nests_children(specimen, file_manifest):
    out = embed(specimen, file_manifest, "sample_id", "file_manifest")
    rows = {r["sample_id"]: r for r in out.collect()}
    # N matches (wstlr/embedable.py:46-53): child rows + table_name tag
    s1 = rows["S1"]["file_manifest"]
    assert len(s1) == 2
    assert {c["table_name"] for c in s1} == {"file_manifest"}
    assert sorted(c["file_name"] for c in s1) == ["f1.bam", "f2.vcf"]
    # miss → empty list, not null
    assert rows["S2"]["file_manifest"] == []
    assert len(rows["S3"]["file_manifest"]) == 1


def test_embed_multi_column_key(spark):
    parent = spark.createDataFrame([("a", "x", 1), ("a", "y", 2)], "k1 string, k2 string, v int")
    child = spark.createDataFrame([("a", "x", "c1"), ("a", "x", "c2")], "k1 string, k2 string, c string")
    out = embed(parent, child, "k1,k2", "kids", tag_table_name=False)
    rows = {(r["k1"], r["k2"]): r["kids"] for r in out.collect()}
    assert len(rows[("a", "x")]) == 2
    assert rows[("a", "y")] == []


def test_group_to_nested_preserves_order(spark):
    df = spark.createDataFrame(
        [("g1", "b1", 0), ("g1", "b2", 1), ("g2", "b3", 2), ("g1", "b4", 3)],
        "sample_id string, barcode string, _rid long",
    )
    out = group_to_nested(df, "Sample ID", order_by="_rid")
    rows = {r["sample_id"]: r["content"] for r in out.collect()}
    assert [c["barcode"] for c in rows["g1"]] == ["b1", "b2", "b4"]
    assert "_rid" not in out.schema["content"].dataType.elementType.fieldNames()


def test_aggregate_columns_pivot(spark):
    df = spark.createDataFrame(
        [("p1", "v1", "81", "325", "", "NA")],
        "subject_id string, visit string, med_aspirin string, med_statin string, sym_fever string, sym_cough string",
    )
    out = aggregate_columns(
        df, {"medications": "^med_", "symptoms": "^sym_"}, splitter="_",
        drop_missing=True,
    )
    assert set(out.columns) == {"subject_id", "visit", "medications", "symptoms"}
    row = out.collect()[0]
    assert {(m["code"], m["value"]) for m in row["medications"]} == {
        ("aspirin", "81"),
        ("statin", "325"),
    }
    # missing vocabulary filtered (wstlr/extractor.py:209)
    assert row["symptoms"] == []


def test_classify_first_regex_wins():
    std, matched = classify_columns(
        ["id", "med_a", "med_sym_b"], {"meds": "^med_", "syms": "sym_"}
    )
    assert std == ["id"]
    assert matched["meds"] == ["med_a", "med_sym_b"]
    assert matched["syms"] == []


def test_harmonize_function_family(spark):
    cm = ConceptMap.from_rows(
        spark,
        [
            ("1", "Male", "sex", "male", "Male", "http://hl7.org/fhir/administrative-gender"),
            ("1", "Male", "sex", "M", "Male(v2)", "http://terminology.hl7.org/CodeSystem/v2-0001-unharmonized"),
            ("2", "Female", "sex", "female", "Female", "http://hl7.org/fhir/administrative-gender"),
        ],
    )
    df = spark.createDataFrame([("P1", "1"), ("P2", "2"), ("P3", "NA")], "pid string, sex string")
    h = harmonize(df, "sex", "sex", cm)
    out = h.select(
        "pid",
        F.size("codings").alias("n"),
        H.harmonize_as_code("codings").alias("code"),
        H.harmonized_local_display("codings").alias("text"),
        F.size(H.harmonize_mapped("codings")).alias("n_mapped"),
    ).collect()
    rows = {r["pid"]: r for r in out}
    # self + 2 targets for code 1; -unharmonized excluded from mapped
    assert rows["P1"]["n"] == 3
    assert rows["P1"]["n_mapped"] == 1
    assert rows["P1"]["code"] == "male"
    assert rows["P1"]["text"] == "Male"
    assert rows["P2"]["code"] == "female"
    # unmapped value: empty codings
    assert rows["P3"]["n"] == 0
    assert rows["P3"]["code"] is None


SELECTOR_CODINGS = [
    ("male", "Male", "http://hl7.org/fhir/administrative-gender"),
    ("M", "Male(v2)", "http://terminology.hl7.org/CodeSystem/v2-0001-unharmonized"),
    ("1", "Male", H.SELF_SYSTEM),
    ("C20197", "Male", "http://ncicb.nci.nih.gov/xml/owl/EVS/Thesaurus.owl"),
    ("248153007", "Male", "http://snomed.info/sct"),
]


@pytest.mark.parametrize("codings", [SELECTOR_CODINGS, []])
def test_harmonize_selectors_match_python(spark, codings):
    import re

    df = spark.createDataFrame(
        [(codings,)], "c array<struct<code:string,display:string,system:string>>"
    )
    (row,) = df.select(
        H.harmonize_as_coding("c").alias("as_coding"),
        H.harmonize_select_by_prefix("c", "http://hl7.org/").alias("by_prefix"),
        H.harmonize_with_filter("c", "terminology|nci").alias("filtered"),
    ).collect()

    def got(arr):
        return [tuple(c) for c in arr]

    # H5 (_harmonize_as_coding.wstl:8-10): {coding: the mapped codings},
    # i.e. neither self nor a *-unharmonized system, in array order
    assert got(row["as_coding"]["coding"]) == [
        c for c in codings if c[2] != H.SELF_SYSTEM and not c[2].endswith("-unharmonized")
    ]
    # H7 (_harmonize_select_by_prefix.wstl:2-5): system starts with the prefix
    assert got(row["by_prefix"]) == [c for c in codings if c[2].startswith("http://hl7.org/")]
    # H7 (_harmonize_with_filter.wstl:3-6): the regex matches the system
    assert got(row["filtered"]) == [c for c in codings if re.search("terminology|nci", c[2])]


def test_valueset_url_and_dotted_id(spark):
    rows = [
        ("https://ig/CodeSystem/data-dictionary/study/sex", "study", "participant", "sex"),
        ("https://ig/ValueSet/x", "s", "t", "v"),
        ("https://ig/CodeSystem/a/CodeSystem/b", "a.b", "", "c"),
    ]
    df = spark.createDataFrame(rows, "url string, study string, tbl string, var string")
    got = df.select(
        H.convert_for_valueset_url("url").alias("vs"),
        H.dotted_id("study", F.col("tbl"), "var").alias("id"),
    ).collect()
    for (url, *parts), r in zip(rows, got):
        # H12 (_convert_for_valueset_url.wstl:4-6): every /CodeSystem/
        # segment becomes /ValueSet/
        assert r["vs"] == url.replace("/CodeSystem/", "/ValueSet/")
        # H13 (_build_terminology_id.wstl:8-19): the parts joined by dots
        assert r["id"] == ".".join(parts)


def test_display_columns(spark):
    # reference-exact global value-keyed map
    out = add_display_columns(
        spark.createDataFrame([("P1", "White"), ("P2", "Other")], "pid string, race string"),
        ["race"],
        {"White": "White(display)"},
    )
    rows = {r["pid"]: r for r in out.collect()}
    assert rows["P1"]["race_display"] == "White(display)"
    assert rows["P2"]["race_display"] is None
    # an empty map adds nothing
    df = spark.createDataFrame([("P1", "White")], "pid string, race string")
    assert add_display_columns(df, ["race"], {}) is df


def _sort_key(coding):
    # array_sort's ascending struct order: field by field, nulls first
    return tuple((x is not None, x or "") for x in coding)


def _codings_oracle(rows, local_system):
    """Plain-Python $HarmonizeCode: local_code → every target coding plus
    the self coding, deduplicated like ConceptMap and array_sort-ordered."""
    out: dict[str, list] = {}
    texts: dict[str, str] = {}
    seen = set()
    for lc, text, ls, code, display, system in rows:
        if ls != local_system or (ls, lc, system, code) in seen:
            continue
        seen.add((ls, lc, system, code))
        out.setdefault(lc, []).append((code, display, system))
        texts.setdefault(lc, text)
    for lc, codings in out.items():
        codings.append((lc, texts[lc], H.SELF_SYSTEM))
        codings.sort(key=_sort_key)
    return out


HARMONY_ROWS = [
    ("1", "Male", "sex", "male", "Male", "http://hl7.org/fhir/administrative-gender"),
    ("1", "Male", "sex", "M", None, None),
    ("1", "Male", "sex", "M", None, None),  # duplicate edge: dropped
    ("1", "Male", "sex", "A", "Any", None),
    ("1", "Male", "sex", "m", None, "http://x"),
    ("2", "Female", "sex", "female", "Female", "http://hl7.org/fhir/administrative-gender"),
    ("2", "Female", "sex", None, "no code", "http://x"),
    ("10", None, "sex", "other", "Other", "http://x"),
    ("1", "White", "race", "2106-3", "White", "urn:oid:2.16.840.1.113883.6.238"),
    (None, "no code", "sex", "z", "Z", "http://x"),
]


@pytest.mark.parametrize("local_system", ["sex", "race", "no-such-system"])
def test_harmonize_matches_python_oracle(spark, local_system):
    cm = ConceptMap.from_rows(spark, HARMONY_ROWS)
    want = _codings_oracle(HARMONY_ROWS, local_system)
    # an integer value column: looked up by its string form
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate([1, 2, 10, 3, None, 1])], "rid int, code int"
    )
    got = {
        r["rid"]: [tuple(c) for c in r["codings"]]
        for r in harmonize(df, "code", local_system, cm).collect()
    }
    for rid, value in enumerate([1, 2, 10, 3, None, 1]):
        # unmapped and null values: an empty array, never NULL (the
        # null local code of the map matches nothing)
        assert got[rid] == ([] if value is None else want.get(str(value), [])), (rid, value)
    if local_system == "sex":
        assert len(got[0]) == 5 and ("1", "Male", H.SELF_SYSTEM) in got[0]
        assert got[1][0] == (None, "no code", "http://x")


def test_display_columns_match_dict_lookup(spark, tmp_path):
    from ncpi_whistler_spark.sources.harmony import read_code_details

    harmony = tmp_path / "harmony.csv"
    harmony.write_text(
        "local code,text,local code system,code,display,code system\n"
        "1,Male,sex,male,Male,http://g\n"
        "2,Female,sex,female,Female,http://g\n"
        "1,One,count,one,First one,http://n\n"  # later row wins for key 1
        "White,White,race,2106-3,White race,urn:r\n"
        ",blank,race,x,Blank,urn:r\n"
        "short\n"  # a row missing every other field: a null display
    )
    # a file whose short row leaves the local code itself null
    tail = tmp_path / "tail.csv"
    tail.write_text("code system,display,local code\nhttp://x,Orphan\n")
    details = read_code_details([str(harmony), str(tail)])
    assert details["1"] == "First one"
    assert details["short"] is None and details[None] == "Orphan"
    rows = [("P1", 1, "White", None), ("P2", 2, "1", "2"), ("P3", 3, "short", "")]
    df = spark.createDataFrame(rows, "pid string, n int, race string, other string")
    cols = ["pid", "n", "race", "other"]
    got = add_display_columns(df, cols, details).collect()
    assert got[0].asDict().keys() >= {c + "_display" for c in cols}
    by_pid = {r["pid"]: r for r in got}
    for row in rows:
        for c, v in zip(cols, row):
            want = None if v is None else details.get(str(v))
            assert by_pid[row[0]][c + "_display"] == want, (row[0], c)
    assert by_pid["P3"]["other_display"] == "Blank"


def test_display_columns_plan_does_not_grow_with_the_map(spark):
    """The lookup is one broadcast map row, not a literal: the analyzed
    plan of 12 display columns is the same size at 60 and 11,000 keys."""
    cols = [f"c{i}" for i in range(12)]
    df = spark.createDataFrame([tuple("k1" for _ in cols)], ", ".join(f"{c} string" for c in cols))

    def plan_len(n):
        out = add_display_columns(df, cols, {f"k{i}": f"v{i}" for i in range(n)})
        return len(out._jdf.queryExecution().analyzed().toString())

    small, large = plan_len(60), plan_len(11_000)
    assert abs(small - large) < 300, (small, large)


def test_curie_prefixing(spark):
    cm = ConceptMap.from_rows(
        spark,
        [("seiz", "Seizure", "dx", "0001250", "Seizure", "http://purl.obolibrary.org/obo/hp.owl")],
        curies={"http://purl.obolibrary.org/obo/hp.owl": "HP"},
    )
    (row,) = cm._collected()
    assert row["code"] == "HP:0001250"


def test_as_of_join(spark):
    trades = spark.createDataFrame(
        [("A", 10, "t1"), ("A", 20, "t2"), ("B", 15, "t3")],
        "sym string, t long, trade string",
    )
    quotes = spark.createDataFrame(
        [("A", 5, 100.0), ("A", 15, 101.0), ("B", 20, 50.0)],
        "sym string, t long, px double",
    )
    out = as_of_join(trades, quotes, ["sym"], "t", "t")
    rows = {r["trade"]: r["px"] for r in out.collect()}
    assert rows["t1"] == 100.0  # quote@5 is latest <= 10
    assert rows["t2"] == 101.0  # quote@15
    assert rows["t3"] is None  # no quote <= 15 for B


def test_approx_distinct_error_bound(spark):
    """HLL++ at rsd=2% must land within 5% of the exact distinct count
    per group on the fixture orders table."""
    import pyspark.sql.functions as F

    from ncpi_whistler_spark.catalog import load_table
    from tests.conftest import SF_DIR

    o = load_table(spark, SF_DIR, "orders")
    approx = {
        r["o_orderpriority"]: r["a"]
        for r in o.groupBy("o_orderpriority")
        .agg(F.approx_count_distinct("o_custkey", rsd=0.02).alias("a"))
        .collect()
    }
    exact = {
        r["o_orderpriority"]: r["e"]
        for r in o.groupBy("o_orderpriority")
        .agg(F.count_distinct("o_custkey").alias("e"))
        .collect()
    }
    assert approx.keys() == exact.keys()
    for k, e in exact.items():
        assert abs(approx[k] - e) <= max(1, 0.05 * e), (k, approx[k], e)


def test_hll60_distinct_error_bound(spark):
    """The explicit h60-HLL (p=10, small-range linear counting) lands
    within 5% of exact per group — same bound as the native sketch — and
    its register construction is mergeable (max per bucket)."""
    import pyspark.sql.functions as F

    from ncpi_whistler_spark.catalog import load_table
    from ncpi_whistler_spark.operators.profiling import hll60_distinct
    from tests.conftest import SF_DIR

    o = load_table(spark, SF_DIR, "orders")
    est = {
        r["o_orderpriority"]: r["hll_estimate"]
        for r in hll60_distinct(o, ["o_orderpriority"], "o_custkey").collect()
    }
    exact = {
        r["o_orderpriority"]: r["e"]
        for r in o.groupBy("o_orderpriority")
        .agg(F.count_distinct("o_custkey").alias("e"))
        .collect()
    }
    assert est.keys() == exact.keys()
    for k, e in exact.items():
        assert abs(est[k] - e) <= max(2, 0.05 * e), (k, est[k], e)
