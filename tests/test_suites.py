"""Evidence suites (suites.py): uniform-schema projections bundling several
SURVEY §2 components into one driver correctness row."""

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"

UNIFORM_COLS = ["component", "id", "num"]


def _components(df):
    return {r[0] for r in df.select("component").distinct().collect()}


def test_suite_filters_components(spark):
    from memory_opensource_spark.queries import QUERIES

    df = QUERIES["suite_filters"](spark, SF_DIR)
    assert df.columns == UNIFORM_COLS
    assert _components(df) == {
        "F2_array_filter", "F3_custom_metadata_numeric", "F3_map_metadata",
        "F7_omo_safety", "F4_post_fetch", "F5_exclusion",
    }
    # F5: the exclusion list must actually be excluded
    excluded = (df.filter((F.col("component") == "F5_exclusion")
                          & F.col("id").isin("m1", "m5", "m9", "m13")).count())
    assert excluded == 0


def test_suite_storage_lifecycle_facts(spark):
    from memory_opensource_spark.queries import QUERIES

    df = QUERIES["suite_storage_lifecycle"](spark, SF_DIR).cache()
    comps = _components(df)
    assert {"S3_S4_upsert", "S5_point_delete", "S7_S8_batch_store",
            "S13_delete_all", "S14_get", "S15_update_reembed"} <= comps
    # upsert replaced content: every S3/S4 row carries the UPPER(substr) form
    up = df.filter((F.col("component") == "S3_S4_upsert")
                   & (F.col("id") != "__total__"))
    bad = up.filter(~F.split("id", r"\|")[1].rlike("^[A-Z0-9 .,;:!?'\"-]*$")).count()
    assert bad == 0
    # point delete leaves zero copies of m7
    m7 = df.filter((F.col("component") == "S5_point_delete")
                   & (F.col("id") == "m7_present")).select("num").first()[0]
    assert m7 == 0.0
    df.unpersist()


def test_f9_fallback_relax_gating(spark):
    """Strict leg has < 5 hits on the fixture, so the relaxed leg must fire
    and return exactly 5 rows (top-5 recent for the ACL user)."""
    from memory_opensource_spark.queries import QUERIES

    rows = QUERIES["f9_fallback_relax"](spark, SF_DIR).collect()
    stages = {}
    for r in rows:
        stages.setdefault(r["stage"], []).append(r["memory_id"])
    if len(stages.get("strict", [])) < 5:
        assert len(stages.get("relaxed", [])) == 5
    else:
        assert "relaxed" not in stages


def test_suite_wrapped_value_parity(spark):
    """A wrapped member must carry exactly the standalone query's rows —
    spot-check G3 via suite_graph_lookup."""
    from memory_opensource_spark.queries import QUERIES

    suite = QUERIES["suite_graph_lookup"](spark, SF_DIR)
    g3 = QUERIES["g3_node_by_property"](spark, SF_DIR)
    suite_ids = {r[0] for r in
                 suite.filter(F.col("component") == "G3_node_by_property")
                 .select("id").collect()}
    g3_ids = {"|".join([r["node_id"], r["label"], r["prop_name"]])
              for r in g3.collect()}
    assert suite_ids == g3_ids


def test_st5_replay_matches_streaming_fold(spark):
    """The registered batch replay and the SEQUENTIAL per-user fold of the
    actual streaming operator (stateful.ema_sequential_py: +1 per event,
    time decay 0.5^(dt/half_life)) agree — the round-5 rewrite made the
    driver row verify the real algebra instead of a 0.9^ordinal stand-in."""
    from memory_opensource_spark.queries import QUERIES
    from memory_opensource_spark.sources import tables
    from memory_opensource_spark.streaming.stateful import ema_sequential_py

    got = {r["user_id"]: (r["ema"], r["n_events"])
           for r in QUERIES["st5_decayed_counter_replay"](spark, SF_DIR).collect()}
    ev = (tables.load(spark, SF_DIR, "events")
          .select("user_id", F.unix_timestamp("ts").alias("t")).collect())
    ts_by_user: dict = {}
    for r in ev:
        ts_by_user.setdefault(r["user_id"], []).append(int(r["t"]) * 1_000_000)
    for uid, (ema, n) in got.items():
        assert n == len(ts_by_user[uid])
        assert abs(ema_sequential_py(ts_by_user[uid]) - ema) < 1e-4, uid


def test_corpus_profile_hll_within_5pct(spark):
    """The 100 TB path for vocabulary size is approx_count_distinct (HLL++,
    map-side mergeable); it must land within 5% of the exact count the oracle
    checks."""
    from memory_opensource_spark.sources import tables

    docs = tables.load(spark, SF_DIR, "documents")
    from memory_opensource_spark.functions.text import tokens

    toks = docs.select("source", F.explode(tokens(F.col("text"))).alias("t"))
    rows = (toks.groupBy("source")
            .agg(F.countDistinct("t").alias("exact"),
                 F.approx_count_distinct("t", 0.01).alias("approx"))
            .collect())
    assert rows
    for r in rows:
        assert abs(r["approx"] - r["exact"]) / r["exact"] <= 0.05, r


def test_percentile_sketch_within_tolerance(spark):
    """t-digest-style percentile_approx (mergeable sketch, the 100 TB path)
    must land within 2% of the exact percentile the oracle checks."""
    from memory_opensource_spark.sources import tables

    docs = tables.load(spark, SF_DIR, "documents")
    r = docs.agg(
        F.expr("percentile(n_chars, 0.5)").alias("exact"),
        F.percentile_approx("n_chars", 0.5, 10000).alias("approx")).first()
    assert abs(r["approx"] - r["exact"]) / r["exact"] <= 0.02, r


def test_events_in_sessions_matches_session_counts(spark):
    """The range join's per-session event count must equal the session
    window's own message count (every event lands in exactly one interval)."""
    from memory_opensource_spark.queries import QUERIES

    got = {(r["user_id"], r["session_id"]): r["n_events"]
           for r in QUERIES["events_in_sessions"](spark, SF_DIR).collect()}
    want = {(r["user_id"], r["session_id"]): r["message_count"]
            for r in QUERIES["st2_session_windows"](spark, SF_DIR).collect()}
    assert got == want


def test_suite_member_rowcount_parity(spark):
    """Each wrapped member must contribute exactly its standalone row count —
    guards against a suite projection silently dropping or duplicating rows."""
    from memory_opensource_spark.queries import QUERIES

    pairs = [
        ("suite_ranking_formulas", "R8_tier1", "r8_tier1_ranking"),
        ("suite_dedup_family", "DD_minhash_bands", "dedup_minhash_bands"),
        ("suite_text_analysis", "TXT_lang_id", "text_lang_id"),
        ("suite_graph_analytics", "GA_pagerank", "graph_pagerank"),
    ]
    for suite, comp, member in pairs:
        got = (QUERIES[suite](spark, SF_DIR)
               .filter(F.col("component") == comp).count())
        want = QUERIES[member](spark, SF_DIR).count()
        assert got == want, (suite, comp, got, want)


def test_cms_never_underestimates(spark):
    """Count-min guarantee: estimate >= exact for every queried term, and
    with 4x256 cells on this vocabulary the overestimate stays bounded."""
    from memory_opensource_spark.queries import QUERIES

    rows = QUERIES["text_cms_frequency"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["cms_estimate"] >= r["exact_freq"], r
