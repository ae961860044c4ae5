"""LSH hot-bucket cap (100 TB guardrail on the quadratic band join)."""

from pyspark.sql import functions as F

from unstructured_spark.operators.dedup import lsh_candidate_pairs
import pytest

# long-running suite: deselected from the default fast tier (pytest.ini);
# runs in the round-end full pass with -m "slow or not slow"
pytestmark = pytest.mark.slow


def test_bucket_cap_drops_degenerate_buckets(spark):
    # 6 identical docs share every band bucket (15 pairs); one distinct
    # near-dup pair elsewhere survives the cap
    same = [(str(i), "the quick brown fox jumps over the lazy dog") for i in range(6)]
    other = [
        ("x1", "completely different text about spark adaptive execution"),
        ("x2", "completely different text about spark adaptive execution"),
    ]
    df = spark.createDataFrame(same + other, "doc_id string, text string")
    uncapped = lsh_candidate_pairs(df)
    capped = lsh_candidate_pairs(df, max_bucket_size=3)
    un = {(r["doc_a"], r["doc_b"]) for r in uncapped.collect()}
    cp = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    assert ("x1", "x2") in un and ("x1", "x2") in cp
    assert len(un) == 15 + 1
    # the 6-doc clique's buckets all exceed the cap -> its pairs vanish
    assert cp == {("x1", "x2")}


def test_simhash_pairs_cap_bounds_candidates(spark):
    from unstructured_spark.operators.dedup import simhash_pairs

    # 8 identical docs form a 28-pair clique whose segment buckets all
    # exceed the cap; the distinct near-dup pair survives.
    same = [(str(i), "alpha beta gamma delta epsilon zeta eta theta") for i in range(8)]
    other = [
        ("y1", "catalyst pushes filters into the parquet scan operator"),
        ("y2", "catalyst pushes filters into the parquet scan operator"),
    ]
    df = spark.createDataFrame(same + other, "doc_id string, text string")
    uncapped = simhash_pairs(df, bits=48, max_distance=3)
    capped = simhash_pairs(df, bits=48, max_distance=3, max_bucket_size=4)
    un = {(r["doc_a"], r["doc_b"]) for r in uncapped.collect()}
    cp = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    assert ("y1", "y2") in un and ("y1", "y2") in cp
    assert {(a, b) for (a, b) in un if a.isdigit()} == {
        (str(i), str(j)) for i in range(8) for j in range(8) if str(i) < str(j)
    }
    assert cp == {("y1", "y2")}


def test_simhash_pairs_48bit_matches_bruteforce(spark):
    from unstructured_spark.operators.dedup import simhash, simhash_pairs

    rows = [
        ("d1", "spark shuffles on the join key"),
        ("d2", "spark shuffles on the join keys"),
        ("d3", "an entirely different sentence about nothing at all"),
        ("d4", "spark shuffles on the join key"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_pairs(df, bits=48, max_distance=2).collect()
    }
    fps = {
        r["doc_id"]: r["fp"]
        for r in df.select(
            "doc_id", simhash(F.col("text"), bits=48).alias("fp")
        ).collect()
    }
    ids = sorted(fps)
    want = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin(fps[a] ^ fps[b]).count("1")
            if h <= 2:
                want.add((a, b, h))
    assert got == want and len(want) >= 1


class TestDropNearDuplicates:
    def test_end_to_end_corpus_dedup(self, spark):
        from unstructured_spark.operators.dedup import drop_near_duplicates

        base = "the quick brown fox jumps over the lazy dog again and again today"
        near = base.replace("today", "tonight")
        rows = [
            ("a1", base),
            ("a2", base),            # exact dup of a1
            ("a3", near),            # near dup of a1
            ("b1", "completely different text about spark query planning and shuffles"),
            ("c1", "hi"),            # too short to shingle
            ("c2", "hi"),            # exact dup of c1 (caught by md5 pass)
        ]
        df = spark.createDataFrame(rows, "doc_id string, text string")
        kept = sorted(
            r["doc_id"]
            for r in drop_near_duplicates(df, threshold=0.5).collect()
        )
        assert kept == ["a1", "b1", "c1"]

    def test_no_duplicates_is_identity(self, spark):
        from unstructured_spark.operators.dedup import drop_near_duplicates

        df = spark.createDataFrame(
            [("x", "one unique document about databases and storage engines"),
             ("y", "another unrelated document describing streaming watermarks")],
            "doc_id string, text string",
        )
        assert drop_near_duplicates(df).count() == 2

    def test_keep_best_quality_representative(self, spark):
        from unstructured_spark.operators.dedup import drop_near_duplicates

        base = "the quick brown fox jumps over the lazy dog again and again today"
        near = base.replace("today", "tonight and tomorrow as well")
        rows = [
            # near-dup cluster: id 1 lowest, but id 3 highest quality
            (1, base, 10),
            (2, base + " x", 20),
            (3, near, 30),
            # exact pair with DIFFERING quality metadata: keep id 5
            (4, "hi", 1),
            (5, "hi", 2),
            (6, "completely different text about spark query planning", 0),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string, score long")
        kept = sorted(
            r["doc_id"]
            for r in drop_near_duplicates(
                df, threshold=0.4, keep="best", quality_col="score"
            ).collect()
        )
        assert kept == [3, 5, 6]

    def test_keep_best_quality_tie_breaks_to_min_id(self, spark):
        from unstructured_spark.operators.dedup import drop_near_duplicates

        df = spark.createDataFrame(
            [(7, "hi", 5), (3, "hi", 5), (9, "hi", 5)],
            "doc_id long, text string, score long",
        )
        kept = [
            r["doc_id"]
            for r in drop_near_duplicates(
                df, keep="best", quality_col="score"
            ).collect()
        ]
        assert kept == [3]

    def test_keep_policy_validation(self, spark):
        import pytest

        from unstructured_spark.operators.dedup import drop_near_duplicates

        df = spark.createDataFrame([(1, "x", 1)], "doc_id long, text string, s long")
        with pytest.raises(ValueError, match="keep must be"):
            drop_near_duplicates(df, keep="newest")
        with pytest.raises(ValueError, match="quality_col"):
            drop_near_duplicates(df, keep="best")

    def test_keep_best_with_string_doc_ids(self, spark):
        # regression: the old tie-break negated doc_id, which casts
        # string ids to double → null → arbitrary survivor
        from unstructured_spark.operators.dedup import drop_near_duplicates

        df = spark.createDataFrame(
            [("e7", "hi", 5), ("e3", "hi", 5), ("e9", "hi", 9)],
            "doc_id string, text string, score long",
        )
        kept = [
            r["doc_id"]
            for r in drop_near_duplicates(
                df, keep="best", quality_col="score"
            ).collect()
        ]
        assert kept == ["e9"]
        # quality tie among strings → lexicographic min id
        df2 = spark.createDataFrame(
            [("e7", "hi", 5), ("e3", "hi", 5)],
            "doc_id string, text string, score long",
        )
        kept2 = [
            r["doc_id"]
            for r in drop_near_duplicates(
                df2, keep="best", quality_col="score"
            ).collect()
        ]
        assert kept2 == ["e3"]

    def test_keep_best_rejects_non_numeric_quality(self, spark):
        import pytest

        from unstructured_spark.operators.dedup import drop_near_duplicates

        df = spark.createDataFrame(
            [(1, "x", "high")], "doc_id long, text string, score string"
        )
        with pytest.raises(ValueError, match="numeric quality_col"):
            drop_near_duplicates(df, keep="best", quality_col="score")


class TestHammingBlockingLossless:
    """hamming_pairs' pigeonhole blocking must find EXACTLY the brute
    force pair set — including across the int64 sign bit (regression:
    arithmetic shiftright sign-encoded segments and lost pairs)."""

    def test_matches_brute_force_on_adversarial_fingerprints(self, spark):
        import itertools
        import random

        rnd = random.Random(11)
        fps = []
        # clusters around a few anchors (near pairs), including anchors
        # with the top bit set (negative int64), plus uniform noise
        for anchor in (0, (1 << 63) - 7, -(1 << 62), rnd.getrandbits(63)):
            for _ in range(4):
                v = anchor
                for _ in range(rnd.randrange(0, 4)):
                    v ^= 1 << rnd.randrange(64)
                fps.append(v - (1 << 64) if v >= 1 << 63 else v)
        fps.extend(
            rnd.getrandbits(64) - (1 << 63) for _ in range(10)
        )
        rows = [(i, fp) for i, fp in enumerate(fps)]
        for d in (0, 2, 5):
            brute = sorted(
                (a, b, bin((fa ^ fb) & ((1 << 64) - 1)).count("1"))
                for (a, fa), (b, fb) in itertools.combinations(rows, 2)
                if bin((fa ^ fb) & ((1 << 64) - 1)).count("1") <= d
            )
            from unstructured_spark.operators.dedup import hamming_pairs

            df = spark.createDataFrame(rows, "doc_id long, fp long")
            got = sorted(
                (r["doc_a"], r["doc_b"], r["hamming"])
                for r in hamming_pairs(
                    df, hash_col="fp", doc_id="doc_id", bits=64, max_distance=d
                ).collect()
            )
            assert got == brute, f"max_distance={d}"


class TestLeakageSafeSplit:
    def test_cluster_members_share_split(self, spark):
        from unstructured_spark.operators.dedup import leakage_safe_split

        # docs 1-3 are near-identical (shared shingles); 4-9 unique
        shared = "alpha beta gamma delta epsilon zeta eta theta"
        rows = [(i, shared + f" tail{i}") for i in (1, 2, 3)] + [
            (i, f"doc {i} " + " ".join(f"u{i}w{j}" for j in range(8)))
            for i in range(4, 10)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r for r in leakage_safe_split(df).collect()}
        assert len(out) == 9
        # the near-dup trio shares a group AND a split
        assert out[1]["split_group"] == out[2]["split_group"] == out[3]["split_group"] == 1
        assert out[1]["split"] == out[2]["split"] == out[3]["split"]
        # uniques are their own group
        assert all(out[i]["split_group"] == i for i in range(4, 10))
        assert set(r["split"] for r in out.values()) <= {
            "train", "validation", "test"
        }

    def test_deterministic_and_append_stable(self, spark):
        from unstructured_spark.operators.dedup import leakage_safe_split

        rows = [(i, f"unique doc {i} " + " ".join(f"x{i}y{j}" for j in range(8)))
                for i in range(20)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        a = {r["doc_id"]: r["split"] for r in leakage_safe_split(df).collect()}
        # appending new unique docs must not move existing assignments
        more = rows + [(100, "brand new document " + " ".join(f"z{j}" for j in range(8)))]
        df2 = spark.createDataFrame(more, "doc_id long, text string")
        b = {r["doc_id"]: r["split"] for r in leakage_safe_split(df2).collect()}
        assert all(b[i] == a[i] for i in a)

    def test_validation(self, spark):
        import pytest

        from unstructured_spark.operators.dedup import leakage_safe_split

        df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        with pytest.raises(ValueError, match="sum to 1"):
            leakage_safe_split(df, fractions=(0.5, 0.1), names=("a", "b"))
        with pytest.raises(ValueError, match="align"):
            leakage_safe_split(df, fractions=(0.5, 0.5), names=("a",))

    def test_string_doc_ids_supported(self, spark):
        # the canonical element schema's doc_id is a STRING — the split
        # must be type-preserving, not silently null a long cast
        from unstructured_spark.operators.dedup import leakage_safe_split

        shared = "alpha beta gamma delta epsilon zeta eta theta"
        rows = [(f"doc-{i}", shared + f" tail{i}") for i in (1, 2)] + [
            (f"doc-{i}", f"unique {i} " + " ".join(f"s{i}t{j}" for j in range(8)))
            for i in (3, 4)
        ]
        df = spark.createDataFrame(rows, "doc_id string, text string")
        out = {r["doc_id"]: r for r in leakage_safe_split(df).collect()}
        assert set(out) == {f"doc-{i}" for i in (1, 2, 3, 4)}
        assert out["doc-1"]["split_group"] == out["doc-2"]["split_group"] == "doc-1"
        assert out["doc-1"]["split"] == out["doc-2"]["split"]
        assert all(r["split"] in ("train", "validation", "test") for r in out.values())


class TestGuards:
    def test_lsh_bands_must_divide(self, spark):
        import pytest

        from unstructured_spark.operators.dedup import lsh_candidate_pairs

        df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        with pytest.raises(ValueError, match="bands"):
            lsh_candidate_pairs(df, num_hashes=16, bands=32)
        with pytest.raises(ValueError, match="bands"):
            lsh_candidate_pairs(df, num_hashes=16, bands=5)

    def test_kmeans_rejects_string_ids(self, spark):
        import pytest

        from unstructured_spark.operators.clustering import kmeans_clusters

        df = spark.createDataFrame(
            [("abc", [0.1, 0.2])], "vec_id string, embedding array<double>"
        )
        with pytest.raises(ValueError, match="numeric id"):
            kmeans_clusters(df, k=1, iterations=1)

    def test_pack_sequences_rejects_string_ids(self, spark):
        import pytest

        from unstructured_spark.operators.sampling import pack_sequences

        df = spark.createDataFrame(
            [("abc", "a b c")], "doc_id string, text string"
        )
        with pytest.raises(ValueError, match="numeric"):
            pack_sequences(df, 10)

    def test_bm25_empty_corpus(self, spark):
        from unstructured_spark.operators.text_analysis import bm25_scores

        df = spark.createDataFrame([], "doc_id long, text string")
        out = bm25_scores(df, ["term"])
        assert out.collect() == []
        assert out.columns == ["doc_id", "score"]

    def test_contamination_repeats_fully_contaminated(self, spark):
        # one benchmark 13-gram repeated: distinct/distinct ratio = 1.0
        from unstructured_spark.operators.dedup import contaminated_docs

        gram = " ".join(f"w{i}" for i in range(13))
        corpus = spark.createDataFrame(
            [(1, " ".join([gram] * 5))], "doc_id long, text string"
        )
        bench = spark.createDataFrame([(99, gram)], "doc_id long, text string")
        rows = contaminated_docs(corpus, bench).collect()
        [r] = rows
        # every DISTINCT gram of the doc that comes verbatim from the
        # benchmark counts; repeated-window inflation is gone from the
        # denominator, so the doc reads as heavily contaminated
        assert r["contaminated_grams"] >= 1
        assert r["total_grams"] == r["total_grams"]  # distinct count
        assert r["contamination"] >= 0.02
        # the repeated benchmark gram itself is one distinct window hit
        # among the doc's distinct windows (ratio rounded to 6dp)
        assert abs(
            r["contaminated_grams"] / r["total_grams"] - r["contamination"]
        ) < 1e-6


class TestRemoveBoilerplateLines:
    def test_cross_doc_lines_removed_unique_kept(self, spark):
        from unstructured_spark.operators.dedup import remove_boilerplate_lines

        banner = "Accept all cookies to continue"
        rows = [
            (1, f"{banner}\nReal article text one.\n\nSecond paragraph."),
            (2, f"{banner}\nCompletely different story here."),
            (3, "No boilerplate in this one at all."),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r for r in remove_boilerplate_lines(docs).collect()}
        assert out[1]["text"] == "Real article text one.\n\nSecond paragraph."
        assert out[1]["removed_lines"] == 1
        assert out[2]["text"] == "Completely different story here."
        assert out[3]["text"] == "No boilerplate in this one at all."
        assert out[3]["removed_lines"] == 0

    def test_normalization_collapses_case_and_spaces(self, spark):
        from unstructured_spark.operators.dedup import remove_boilerplate_lines

        rows = [
            (1, "COOKIE   notice\nkeep me"),
            (2, "cookie notice\nother text"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r["text"] for r in remove_boilerplate_lines(docs).collect()}
        assert out[1] == "keep me"
        assert out[2] == "other text"

    def test_all_boilerplate_doc_comes_back_empty(self, spark):
        from unstructured_spark.operators.dedup import remove_boilerplate_lines

        rows = [(1, "same line"), (2, "same line"), (3, "unique content")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r for r in remove_boilerplate_lines(docs).collect()}
        assert out[1]["text"] == "" and out[1]["removed_lines"] == 1
        assert out[2]["text"] == ""
        assert out[3]["text"] == "unique content"

    def test_null_text_and_custom_text_column(self, spark):
        # null text behaves as an empty doc (0 lines removed, empty
        # output — never removed_lines=-1), and the output honors the
        # caller's text column name
        from unstructured_spark.operators.dedup import remove_boilerplate_lines

        rows = [(1, None), (2, "same"), (3, "same")]
        docs = spark.createDataFrame(rows, "doc_id long, body string")
        out = {
            r["doc_id"]: r
            for r in remove_boilerplate_lines(docs, text="body").collect()
        }
        assert "body" in remove_boilerplate_lines(docs, text="body").columns
        assert out[1]["body"] == "" and out[1]["removed_lines"] == 0
        assert out[2]["body"] == "" and out[2]["removed_lines"] == 1

    def test_blank_lines_survive_and_min_docs_threshold(self, spark):
        from unstructured_spark.operators.dedup import remove_boilerplate_lines

        shared = "footer text"
        rows = [
            (1, f"a\n\n{shared}"),
            (2, f"b\n\n{shared}"),
            (3, f"c\n\n{shared}"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        # blank separator lines appear in every doc but are never
        # counted as boilerplate; threshold 4 keeps the shared footer
        out4 = {r["doc_id"]: r["text"]
                for r in remove_boilerplate_lines(docs, min_docs=4).collect()}
        assert out4[1] == f"a\n\n{shared}"
        out2 = {r["doc_id"]: r["text"]
                for r in remove_boilerplate_lines(docs, min_docs=2).collect()}
        assert out2[1] == "a\n"

    def test_duckdb_parity_on_boilerplate_rich_corpus(self, spark):
        # the sf tables have no duplicated lines, so the registered
        # oracle exercises the no-op path only; this pins the REMOVAL
        # path cross-engine on a corpus that actually shares lines
        import duckdb

        import __spark_entry__ as entry_mod
        from unstructured_spark.operators.dedup import remove_boilerplate_lines

        rows = [
            (1, "Accept cookies\nStory one.\n\nTail one."),
            (2, "accept   COOKIES\nStory two."),
            (3, "Unique doc\nwith its own lines."),
            (4, "Accept cookies\n\nStory four."),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = sorted(
            tuple(str(x) for x in r)
            for r in remove_boilerplate_lines(docs).collect()
        )
        con = duckdb.connect()
        con.sql(
            "create table documents(doc_id bigint, text varchar)"
        )
        con.executemany(
            "insert into documents values (?, ?)", rows
        )
        want = sorted(
            tuple(str(x) for x in r)
            for r in con.sql(
                entry_mod.oracle_sql()["q_remove_boilerplate"]
            ).fetchall()
        )
        assert got == want

    def test_crlf_blank_lines_survive(self, spark):
        # regression (r7 review): "\r"-only lines from CRLF documents
        # used to count as content, put md5("") into the frequent set,
        # and delete every blank separator line corpus-wide
        from unstructured_spark.operators.dedup import remove_boilerplate_lines

        rows = [
            (1, "alpha\r\n\r\nbeta one"),
            (2, "gamma\r\n\r\ndelta two"),
            (3, "epsilon\r\n\r\nzeta three"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r for r in remove_boilerplate_lines(docs).collect()}
        # nothing shares content -> nothing removed, \r blanks intact
        assert out[1]["removed_lines"] == 0
        assert out[1]["text"] == "alpha\r\n\r\nbeta one"


class TestDedupParagraphs:
    def test_keep_first_drop_rest(self, spark):
        from unstructured_spark.operators.dedup import dedup_paragraphs

        quote = "To be or not to be"
        rows = [
            (1, f"Intro one.\n\n{quote}\n\nOutro one."),
            (2, f"{quote}\n\nFresh content two."),
            (3, f"Unrelated three.\n\n{quote}"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r for r in dedup_paragraphs(docs).collect()}
        # doc 1 holds the first occurrence (min (doc, pos)) — intact
        assert out[1]["text"] == rows[0][1]
        assert out[1]["removed_paragraphs"] == 0
        # later occurrences dropped, surrounding content preserved
        assert out[2]["text"] == "Fresh content two."
        assert out[2]["removed_paragraphs"] == 1
        assert out[3]["text"] == "Unrelated three."
        assert out[3]["removed_paragraphs"] == 1

    def test_first_within_one_doc_by_position(self, spark):
        from unstructured_spark.operators.dedup import dedup_paragraphs

        docs = spark.createDataFrame(
            [(5, "dup para\n\nmiddle\n\ndup para")],
            "doc_id long, text string",
        )
        [r] = dedup_paragraphs(docs).collect()
        assert r["text"] == "dup para\n\nmiddle"
        assert r["removed_paragraphs"] == 1

    def test_blank_paragraphs_and_null_text(self, spark):
        from unstructured_spark.operators.dedup import dedup_paragraphs

        # blank (whitespace-only) paragraphs are structural — never
        # deduped even though every doc has one
        rows = [(1, "a\n\n \n\nb"), (2, "c\n\n \n\nd"), (3, None)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r for r in dedup_paragraphs(docs).collect()}
        assert out[1]["text"] == "a\n\n \n\nb"
        assert out[2]["text"] == "c\n\n \n\nd"
        assert out[3]["text"] == "" and out[3]["removed_paragraphs"] == 0

    def test_normalization_case_and_spaces(self, spark):
        from unstructured_spark.operators.dedup import dedup_paragraphs

        rows = [(1, "SAME   para"), (2, "same para")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r for r in dedup_paragraphs(docs).collect()}
        # doc 1 wins (lower doc_id); doc 2's variant is a dup under
        # the case/whitespace normalization
        assert out[1]["text"] == "SAME   para"
        assert out[2]["text"] == "" and out[2]["removed_paragraphs"] == 1


class TestIncrementalDedup:
    BASE = ("the quick brown fox jumps over the lazy dog and keeps "
            "running through the quiet forest for a long while today")

    def test_new_near_dup_of_history_dropped(self, spark):
        from unstructured_spark.operators.dedup import (
            dedup_against_index,
            minhash_band_index,
        )

        hist = spark.createDataFrame(
            [(2, self.BASE)], "doc_id long, text string"
        )
        new = spark.createDataFrame(
            [
                (11, self.BASE),  # exact copy of history -> dropped
                (13, "completely different content about spark physical plans"),
            ],
            "doc_id long, text string",
        )
        index = minhash_band_index(hist)
        got = {r["doc_id"] for r in dedup_against_index(new, index).collect()}
        assert got == {13}

    def test_intra_batch_dedup_after_history_pass(self, spark):
        from unstructured_spark.operators.dedup import (
            dedup_against_index,
            minhash_band_index,
        )

        hist = spark.createDataFrame(
            [(2, "some old corpus document that matches nothing new here at all")],
            "doc_id long, text string",
        )
        other = ("an unrelated brand new document with plenty of words "
                 "to shingle properly")
        new = spark.createDataFrame(
            [(11, other), (13, other), (15, self.BASE)],
            "doc_id long, text string",
        )
        index = minhash_band_index(hist)
        got = {r["doc_id"] for r in dedup_against_index(new, index).collect()}
        # 11/13 are intra-batch twins -> min kept; 15 unrelated to history
        assert got == {11, 15}
        # with intra_batch off both twins survive (history-only pass)
        got2 = {
            r["doc_id"]
            for r in dedup_against_index(new, index, intra_batch=False).collect()
        }
        assert got2 == {11, 13, 15}

    def test_precomputed_new_index_single_banded_pass(self, spark):
        # q_dedup_incremental's single-pass shape: band rows are
        # per-doc, so banding the FULL table then splitting by parity
        # must equal splitting then banding — and feeding the split
        # halves through new_index= must match the default two-pass
        # path exactly.
        from pyspark.sql import functions as F

        from unstructured_spark.operators.dedup import (
            dedup_against_index,
            minhash_band_index,
        )

        other = ("an unrelated brand new document with plenty of words "
                 "to shingle properly")
        rows = [(2, self.BASE), (4, other), (11, self.BASE), (13, "short"),
                (15, "completely different content about spark physical plans")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        hist = docs.filter(F.col("doc_id") % 2 == 0)
        new = docs.filter(F.col("doc_id") % 2 == 1)

        # band-then-split == split-then-band, row for row
        banded = minhash_band_index(docs).localCheckpoint(eager=False)
        split_hist = banded.filter(F.col("doc_id") % 2 == 0)
        split_new = banded.filter(F.col("doc_id") % 2 == 1)
        two_pass_hist = minhash_band_index(hist)
        two_pass_new = minhash_band_index(new)

        def key(df):
            return {
                (r["doc_id"], tuple(r["sig"]), r["band"], r["key"])
                for r in df.collect()
            }

        assert key(split_hist) == key(two_pass_hist)
        assert key(split_new) == key(two_pass_new)

        # survivors via new_index= match the default path
        default = {
            r["doc_id"]
            for r in dedup_against_index(
                new, two_pass_hist, intra_batch=False
            ).collect()
        }
        single = {
            r["doc_id"]
            for r in dedup_against_index(
                new, split_hist, new_index=split_new, intra_batch=False
            ).collect()
        }
        assert single == default == {13, 15}

    def test_mismatched_index_params_fail_fast(self, spark):
        # an index built with other num_hashes/bands would never
        # key-match — history dedup silently becomes a no-op — so the
        # guard must raise instead
        import pytest

        from unstructured_spark.operators.dedup import (
            dedup_against_index,
            minhash_band_index,
        )

        hist = spark.createDataFrame([(2, self.BASE)], "doc_id long, text string")
        new = spark.createDataFrame([(11, self.BASE)], "doc_id long, text string")
        idx_fewer_bands = minhash_band_index(hist, bands=4)
        with pytest.raises(Exception, match="incompatible"):
            dedup_against_index(new, idx_fewer_bands, intra_batch=False).collect()
        idx_more_bands = minhash_band_index(hist, bands=16)
        with pytest.raises(Exception, match="incompatible"):
            dedup_against_index(new, idx_more_bands, intra_batch=False).collect()
        idx_fewer_hashes = minhash_band_index(hist, num_hashes=8, bands=8)
        with pytest.raises(Exception, match="incompatible"):
            dedup_against_index(new, idx_fewer_hashes, intra_batch=False).collect()

    def test_exact_index_null_text_passes_through(self, spark):
        # NULL text -> NULL fingerprint: must survive both the
        # vs-history anti-join and the intra-batch keep-min (the inner
        # join on the NULL key used to silently drop these rows)
        from unstructured_spark.operators.dedup import (
            exact_dedup_against_index,
            fingerprint_index,
        )

        index = fingerprint_index(
            spark.createDataFrame([(0, "old history doc")], "doc_id long, text string")
        )
        new = spark.createDataFrame(
            [(1, None), (2, "same text"), (3, "same text"), (4, None)],
            "doc_id long, text string",
        )
        got = sorted(
            r["doc_id"] for r in exact_dedup_against_index(new, index).collect()
        )
        assert got == [1, 2, 4]

    def test_index_append_keeps_future_batches_clean(self, spark):
        from unstructured_spark.operators.dedup import (
            dedup_against_index,
            minhash_band_index,
        )

        hist = spark.createDataFrame(
            [(2, self.BASE)], "doc_id long, text string"
        )
        batch1 = spark.createDataFrame(
            [(11, "fresh content number one with enough words for shingles")],
            "doc_id long, text string",
        )
        index = minhash_band_index(hist)
        s1 = dedup_against_index(batch1, index)
        assert s1.count() == 1
        # append batch1 survivors' rows; a batch-2 copy of batch-1 now drops
        index2 = index.unionByName(minhash_band_index(s1))
        batch2 = spark.createDataFrame(
            [(21, "fresh content number one with enough words for shingles")],
            "doc_id long, text string",
        )
        assert dedup_against_index(batch2, index2).count() == 0

    def test_short_docs_never_near_dups(self, spark):
        from unstructured_spark.operators.dedup import (
            dedup_against_index,
            minhash_band_index,
        )

        hist = spark.createDataFrame([(2, "hi")], "doc_id long, text string")
        new = spark.createDataFrame([(11, "hi")], "doc_id long, text string")
        index = minhash_band_index(hist)
        # too short to shingle: no signature, survives the near-dup pass
        # (exact dedup vs history is the fingerprint store's job)
        assert dedup_against_index(new, index).count() == 1


class TestDedupWithinDoc:
    def test_repeat_inside_doc_dropped_cross_doc_kept(self, spark):
        from unstructured_spark.operators.dedup import dedup_within_doc

        quote = "To be or not to be"
        rows = [
            (1, f"Intro.\n\n{quote}\n\nMiddle.\n\n{quote}"),
            (2, f"{quote}\n\nFresh."),  # cross-doc repeat: untouched
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r for r in dedup_within_doc(docs).collect()}
        assert out[1]["text"] == f"Intro.\n\n{quote}\n\nMiddle."
        assert out[1]["removed_paragraphs"] == 1
        # within-doc scope only — doc 2 keeps its copy
        assert out[2]["text"] == rows[1][1]
        assert out[2]["removed_paragraphs"] == 0

    def test_normalized_compare_and_blank_exempt(self, spark):
        from unstructured_spark.operators.dedup import dedup_within_doc

        rows = [(1, "Same   PARA\n\n \n\nsame para\n\n \n\nother")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        [r] = dedup_within_doc(docs).collect()
        # normalized repeat dropped; BOTH blank paragraphs survive
        assert r["text"] == "Same   PARA\n\n \n\n \n\nother"
        assert r["removed_paragraphs"] == 1

    def test_null_and_empty_text(self, spark):
        from unstructured_spark.operators.dedup import dedup_within_doc

        rows = [(1, None), (2, "")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r for r in dedup_within_doc(docs).collect()}
        assert out[1]["text"] == "" and out[1]["removed_paragraphs"] == 0
        assert out[2]["text"] == "" and out[2]["removed_paragraphs"] == 0

    def test_zero_shuffle_plan(self, spark):
        # the single-pass O(n log n) form (r12): the whole plan is
        # exchange-free for ALL documents — no giant-doc branch, no
        # union, no second corpus scan.
        from unstructured_spark.operators.dedup import dedup_within_doc

        docs = spark.createDataFrame(
            [(1, "a\n\nb")], "doc_id long, text string"
        )
        plan = (
            dedup_within_doc(docs)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan
        # source appears exactly once: the r11 two-branch form's
        # per-branch filters each re-read it
        assert plan.count("ExistingRDD") + plan.count("LocalTableScan") == 1

    def test_giant_path_equivalence(self, spark):
        # giant_paragraphs is retained for API compatibility and must
        # not change results (it no longer routes anything).
        from unstructured_spark.operators.dedup import dedup_within_doc

        rows = [
            (1, "a\n\nb\n\nA \n\nc\n\nb"),
            (2, "x\n\nx"),
            (3, "p\n\n\n\np\n\n \n\nq\n\nP"),
            (4, ""),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["text"], r["removed_paragraphs"])
            for r in dedup_within_doc(docs, giant_paragraphs=2).collect()
        }
        want = {
            r["doc_id"]: (r["text"], r["removed_paragraphs"])
            for r in dedup_within_doc(
                docs, giant_paragraphs=None
            ).collect()
        }
        assert got == want
        assert got[1] == ("a\n\nb\n\nc", 2)

    def test_giant_doc_bounded(self, spark):
        # 20k-paragraph adversarial doc: the quadratic projection form
        # would do 2·10⁸ normalized compares for this ONE row; the
        # default giant branch routes it through the keep-first window
        # and must finish in seconds.
        import time

        from unstructured_spark.operators.dedup import dedup_within_doc

        n = 20_000
        body = "\n\n".join(f"para {i % 37}" for i in range(n))
        docs = spark.createDataFrame(
            [(1, body)], "doc_id long, text string"
        )
        t0 = time.monotonic()
        out = dedup_within_doc(docs).collect()
        elapsed = time.monotonic() - t0
        assert out[0]["removed_paragraphs"] == n - 37
        assert out[0]["text"] == "\n\n".join(
            f"para {i}" for i in range(37)
        )
        # generous bound: same-code timings have drifted up to 6x
        # between bench runs — the quadratic path would take tens of
        # minutes, so 300s still separates the two regimes cleanly
        assert elapsed < 300, f"giant doc took {elapsed:.1f}s"


class TestSoftDedupWeights:
    def test_group_mass_equals_one_doc(self, spark):
        from unstructured_spark.operators.dedup import soft_dedup_weights

        rows = [
            (1, "same text"),
            (2, "Same   TEXT"),   # normalized dup of 1
            (3, "same text"),     # exact dup of 1
            (4, "unique"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r for r in soft_dedup_weights(docs).collect()}
        assert all(out[i]["dup_count"] == 3 for i in (1, 2, 3))
        assert all(out[i]["weight_ppm"] == 333_333 for i in (1, 2, 3))
        assert out[4]["dup_count"] == 1 and out[4]["weight_ppm"] == 1_000_000
        # nothing dropped
        assert len(out) == 4

    def test_null_text_groups_together(self, spark):
        from unstructured_spark.operators.dedup import soft_dedup_weights

        docs = spark.createDataFrame(
            [(1, None), (2, ""), (3, "  ")], "doc_id long, text string"
        )
        out = {r["doc_id"]: r for r in soft_dedup_weights(docs).collect()}
        # NULL/empty/whitespace all normalize to '' — one group of 3
        assert all(r["dup_count"] == 3 for r in out.values())


class TestCrossSourceDupMatrix:
    def test_pairs_attributed_to_source_pairs(self, spark):
        from unstructured_spark.operators.dedup import (
            cross_source_dup_matrix,
            lsh_candidate_pairs,
        )

        base = ("the quick brown fox jumps over the lazy dog while the "
                "rain keeps falling on the quiet empty street tonight")
        rows = [
            (1, base, "web"),
            (2, base + " extra", "book"),   # near-dup straddling sources
            (3, base + " extra", "web"),    # near-dup within+across
            (4, "completely different text with no overlap at all "
                "nothing shared here whatsoever in any shingle", "web"),
        ]
        docs = spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        )
        n_pairs = lsh_candidate_pairs(docs).count()
        matrix = {
            (r["source_a"], r["source_b"]): r["dup_pairs"]
            for r in cross_source_dup_matrix(docs).collect()
        }
        # matrix total equals the pair count — every pair attributed once
        assert sum(matrix.values()) == n_pairs
        # the cross-source ("book","web") cell exists and keys are ordered
        assert all(a <= b for a, b in matrix)
        assert matrix.get(("book", "web"), 0) >= 1
