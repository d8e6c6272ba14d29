"""Property tests for the production MinHash path (q21_fast):
xxhash64 shingles + numpy permutations + bloom pre-prune + salted join.

The hash family is not ANSI-SQL-expressible, so instead of a DuckDB
oracle these pin the deterministic guarantees the pipeline relies on.
"""

from __future__ import annotations

from dedupe_spark.operators import blocking, minhash

SF_DIR = "/root/testdata/sf0.001"


def _pairs(spark, rows):
    df = spark.createDataFrame(rows, "doc_id string, doc string")
    banded = minhash.with_minhash_bands(df, "doc", num_perm=128, bands=32)
    blocks = blocking.explode_blocks(banded, "doc_id", "bands")
    blocks = blocking.bloom_preprune(blocks, mode="bloom")
    return {(r["id_a"], r["id_b"]) for r in blocking.candidate_pairs(blocks).collect()}


def test_exact_duplicates_always_candidates(spark):
    """Identical docs -> identical signatures -> every band collides."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    rows = [("a", base), ("b", base), ("c", "totally different words about engines")]
    assert ("a", "b") in _pairs(spark, rows)


def test_disjoint_docs_never_candidates(spark):
    """Disjoint shingle sets collide only via 64-bit hash collisions."""
    rows = [
        ("a", "one two three four five six seven eight nine ten"),
        ("b", "red green blue yellow purple orange cyan magenta black white"),
    ]
    assert _pairs(spark, rows) == set()


def test_fast_query_deterministic(spark):
    import __spark_entry__ as entrymod

    q = entrymod.queries()["q21_fast_minhash_pairs"]
    a = sorted(map(tuple, q(spark, SF_DIR).collect()))
    b = sorted(map(tuple, q(spark, SF_DIR).collect()))
    assert a == b


def test_fast_path_recall_vs_exact_jaccard(spark):
    """At 128 perms / 32 bands (r=4), every sf0.001 doc pair with exact
    3-gram Jaccard >= 0.7 must be a candidate (deterministic under the
    fixed Philox seed; s-curve collision probability ~0.9998/pair)."""
    import __spark_entry__ as entrymod
    from dedupe_spark.operators.dedup import ngram_jaccard_pairs

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    truth = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.7).collect()
    }
    fast = {
        (r["id_a"], r["id_b"])
        for r in entrymod.queries()["q21_fast_minhash_pairs"](spark, SF_DIR).collect()
    }
    assert truth <= fast, f"missed {truth - fast}"


def test_minhash_udf_mixed_empty_rows(spark):
    """A batch mixing empty and non-empty shingle arrays: empty rows get
    the all-zero sentinel (same as an all-empty batch) and non-empty
    rows keep the exact signature they'd get alone — regardless of
    which rows around them are empty (reduceat's empty-segment
    semantics must never leak a neighbor's data)."""
    from dedupe_spark.operators.minhash import make_minhash_udf

    udf = make_minhash_udf(num_perm=8)
    rows = [(1, [5, 7]), (2, []), (3, [11]), (4, [])]  # trailing empty
    df = spark.createDataFrame(rows, "id long, sh array<long>")
    got = {r["id"]: r["sig"] for r in df.select("id", udf("sh").alias("sig")).collect()}
    alone = {
        r["id"]: r["sig"]
        for r in spark.createDataFrame([(1, [5, 7]), (3, [11])], "id long, sh array<long>")
        .select("id", udf("sh").alias("sig"))
        .collect()
    }
    assert got[1] == alone[1] and got[3] == alone[3]
    assert got[2] == [0] * 8 and got[4] == [0] * 8


def test_band_keys_divisibility_guard():
    """bands must divide num_perm: r=0 (all docs share all keys) and a
    silently-truncated signature are both config errors, not behaviors."""
    import pytest

    from dedupe_spark.operators.minhash import band_keys

    with pytest.raises(ValueError):
        band_keys("sig", bands=256, num_perm=128)
    with pytest.raises(ValueError):
        band_keys("sig", bands=48, num_perm=128)


#: Blocking keys of two fixed conversations, taken before the band-key and
#: shingle expressions became SQL strings. Committed ``doc_blocks`` rows
#: must keep matching the keys a later fold derives from the same text, so
#: any rewrite of those expressions has to reproduce these exactly. ``sh``
#: is (length, sha256 of the comma-joined shingle hashes). gold-b has
#: fewer than k=3 tokens, so its one shingle is the whole doc.
GOLDEN_KEYS = {
    "gold-a": {
        "exact_fp": "8c37b5e1dcd70235d95603c8c908fd5e",
        "bands": [
            "b0:2730452368278936618",
            "b1:236226716082562158",
            "b2:610460719502374866",
            "b3:7131993036392808609",
            "b4:-7837759417366052394",
            "b5:7446481685065818517",
            "b6:8341880529369704815",
            "b7:-5033387026353833511",
            "b8:6933730964090390530",
            "b9:6854387062957098694",
            "b10:8924783143272623617",
            "b11:-4968535822532310397",
            "b12:-2121369776724531498",
            "b13:4832286083231885677",
            "b14:-1542122400088249003",
            "b15:3121449638214438400",
            "b16:-5806998983988415992",
            "b17:-348710228971918285",
            "b18:7196975345388739841",
            "b19:-8326036526267328822",
            "b20:2021033046359361602",
            "b21:2507333217255649049",
            "b22:6823316685624715145",
            "b23:782362236180768738",
            "b24:-8739789788911837075",
            "b25:8432382410373567471",
            "b26:2828260057528506707",
            "b27:-8813758870650470996",
            "b28:4239940632266228343",
            "b29:-1624777038825623757",
            "b30:1728903400052621602",
            "b31:7805273139448493726",
        ],
        "sh": (23, "964bd16aa29a95ec2e98a12f417becf41ab067a78aa9d235e7b7e99f5f95e89d"),
    },
    "gold-b": {
        "exact_fp": "fd33e2e8ad3cb1bdd3ea8f5633fcf5c7",
        "bands": [
            "b0:-6754597598629556791",
            "b1:4704163192911151510",
            "b2:-347199053428011912",
            "b3:-8183889169980583532",
            "b4:8404648289009649497",
            "b5:-6806233137788769402",
            "b6:139673895956629781",
            "b7:-7807142531079985112",
            "b8:-3186920088238407126",
            "b9:-4570826187011033291",
            "b10:-1299079618294702304",
            "b11:2733909053343841868",
            "b12:3475701624763221260",
            "b13:-6299734584891683312",
            "b14:-1770056521416664610",
            "b15:4659114019473241325",
            "b16:-894625327271722047",
            "b17:-4171167047986890239",
            "b18:-9065163521074380533",
            "b19:8473408583939867515",
            "b20:-3507346434478402187",
            "b21:6591328923899077170",
            "b22:-4741978793938395939",
            "b23:9013571430924606975",
            "b24:1092067245402564793",
            "b25:5578750592973901291",
            "b26:-4003796916257156890",
            "b27:-216476626197328067",
            "b28:-2879790591275342394",
            "b29:-8506856888438623948",
            "b30:-5195716146548156772",
            "b31:7742163522041842877",
        ],
        "sh": (1, "7f7e6a190fa9d86dfef3cbd5bdbe6da56dc7bdf4f9db8c63628e2b5604b9c7f0"),
    },
}


def test_golden_band_keys(spark):
    import datetime
    import hashlib

    from dedupe_spark import pipeline, schemas

    ts = datetime.datetime(2024, 1, 1)
    rows = [
        ("gold-a", 0, "user", "How do I reset my router's admin password?", None, ts),
        ("gold-a", 1, "assistant",
         "Hold the reset button for 10 seconds, then log in with admin/admin.", None, ts),
        ("gold-a", 2, "user", "Thanks, that worked!", None, ts),
        ("gold-b", 0, "user", "Hi there", None, ts),
    ]
    tr = spark.createDataFrame(rows, schemas.TRANSCRIPTS)
    got = {
        r["conv_id"]: {
            "exact_fp": r["exact_fp"],
            "bands": list(r["bands"]),
            "sh": (len(r["sh"]), hashlib.sha256(",".join(map(str, r["sh"])).encode()).hexdigest()),
        }
        for r in pipeline._docs_with_bands(tr, pipeline.PipelineConfig()).collect()
    }
    assert got == GOLDEN_KEYS
