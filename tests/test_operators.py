"""Unit tests for the training-data operators (dedup / similarity /
textstats / multimodal) against small hand-checkable inputs."""

import math

import pytest
from pyspark.sql import functions as F

from log2seq_spark.operators import dedup, scrub, similarity, textstats
from log2seq_spark.operators.multimodal import (extract_features,
                                                synthetic_media, FEATURE_DIM)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en", "a"),
        (1, "the quick brown fox jumps over the lazy dog", "en", "a"),   # exact dup of 0
        (2, "the quick brown fox leaps over the lazy dog", "en", "b"),   # near dup
        (3, "completely different content about spark engines", "en", "b"),
        (4, "der hund und die katze sind nicht da", "de", "b"),
        (5, "short", "en", "a"),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string")


class TestDedup:
    def test_exact(self, docs):
        out = dedup.exact_duplicates(docs).collect()
        assert len(out) == 1
        assert out[0]["n_docs"] == 2 and out[0]["keep_id"] == 0

    def test_minhash_buckets_catch_near_dups(self, docs):
        out = dedup.minhash_near_duplicates(docs, n_hashes=8, bands=4).collect()
        # docs 0/1 identical → share every band; doc 2 shares most shingles
        assert any(r["n_docs"] >= 2 and r["keep_id"] == 0 for r in out)

    def test_minhash_lsh_recall_at_sf001(self, spark):
        # recall of LSH band-bucket candidates vs EXACT n-gram Jaccard
        # >= 0.7 on the real sf0.01 documents table — the quality bar
        # for the banded approximation, the same protocol as the IVF
        # recall check. With 8 bands of 2 rows, P[candidate | s] =
        # 1-(1-s^2)^8 >= 0.997 at s=0.7, so recall >= 0.9 has margin.
        docs = spark.read.parquet(
            "/root/testdata/sf0.01/documents.parquet")
        # caps lifted so the Jaccard join is effectively exact here
        exact = {(r["id_a"], r["id_b"]) for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.7, max_shingles_per_doc=10**6,
            max_docs_per_shingle=10**6).collect()}
        assert len(exact) >= 5   # the synthetic corpus plants near-dups
        sig = dedup.minhash_band_signatures(docs, n_hashes=16, bands=8)
        a = sig.select(F.col("_id").alias("id_a"), "band", "band_hash")
        b = sig.select(F.col("_id").alias("id_b"), "band", "band_hash")
        cand = {(r["id_a"], r["id_b"]) for r in
                a.join(b, ["band", "band_hash"])
                 .filter(F.col("id_a") < F.col("id_b"))
                 .select("id_a", "id_b").distinct().collect()}
        recall = len(exact & cand) / len(exact)
        assert recall >= 0.9

    def test_jaccard_pairs(self, docs):
        out = {(r["id_a"], r["id_b"]): r["jaccard"]
               for r in dedup.ngram_jaccard_pairs(docs, threshold=0.3).collect()}
        assert out[(0, 1)] == 1.0
        assert 0.3 <= out[(0, 2)] < 1.0
        assert (0, 3) not in out

    def test_dedup_decisions(self, docs):
        out = {r["doc_id"]: r["decision"] for r in
               dedup.dedup_decisions(docs, threshold=0.3).collect()}
        assert out[0] == "keep"          # min id of the exact-dup pair
        assert out[1] == "drop_exact"    # exact dup of 0
        assert out[2] == "drop_near"     # near dup (higher id of pair)
        assert out[3] == "keep"
        assert len(out) == 6             # one decision per doc

    def test_simhash_close_for_near_dups(self, docs):
        rows = {r["doc_id"]: r["simhash"]
                for r in dedup.simhash_signatures(docs).collect()}
        assert rows[0] == rows[1]
        ham_near = bin(rows[0] ^ rows[2]).count("1")
        ham_far = bin(rows[0] ^ rows[3]).count("1")
        assert ham_near < ham_far

    def test_embedding_near_dups(self, spark):
        rows = [(0, [1.0, 0.0, 0.0]), (1, [0.999, 0.01, 0.0]),
                (2, [0.0, 1.0, 0.0])]
        embs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = dedup.embedding_near_duplicates(embs, threshold=0.95).collect()
        assert [(r["id_a"], r["id_b"]) for r in out] == [(0, 1)]

    def test_brute_near_dup_row_guard(self, spark):
        # the n_planes=0 crossJoin baseline must refuse production-scale
        # inputs: count-guarded, raises with a pointer to the LSH path
        import pytest
        rows = [(i, [float(i), 1.0]) for i in range(20)]
        embs = spark.createDataFrame(rows,
                                     "vec_id long, embedding array<float>")
        with pytest.raises(ValueError, match="max_brute_rows"):
            dedup.embedding_near_duplicates(embs, max_brute_rows=10)
        # under the cap (and with the default cap) it still runs
        assert dedup.embedding_near_duplicates(
            embs, threshold=0.999, max_brute_rows=20).count() >= 0

    def test_brute_near_dup_byte_guard(self, spark, monkeypatch):
        # the driver-side matrix is also capped in bytes: 20 vectors of
        # dim 2 are 320 bytes of float64, under the row cap
        from log2seq_spark.operators import veccand
        rows = [(i, [float(i), 1.0]) for i in range(20)]
        embs = spark.createDataFrame(rows,
                                     "vec_id long, embedding array<float>")
        monkeypatch.setattr(veccand, "MAX_BRUTE_BYTES", 319)
        with pytest.raises(ValueError, match="MAX_BRUTE_BYTES"):
            dedup.embedding_near_duplicates(embs, max_brute_rows=20)
        monkeypatch.setattr(veccand, "MAX_BRUTE_BYTES", 320)
        assert dedup.embedding_near_duplicates(
            embs, threshold=0.999, max_brute_rows=20).count() >= 0

    def test_embedding_lsh_recall(self, spark):
        # 40 well-separated base directions (seeded), each with a slightly
        # perturbed twin (cosine ≈ 0.999): 40 true near-dup pairs. The
        # banded hyperplane LSH path must recover ≥90% of the brute pairs.
        import random
        rng = random.Random(7)
        rows = []
        for i in range(40):
            base = [rng.gauss(0, 1) for _ in range(32)]
            twin = [x + rng.gauss(0, 0.01) for x in base]
            rows.append((2 * i, base))
            rows.append((2 * i + 1, twin))
        embs = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>")
        brute = {(r["id_a"], r["id_b"]) for r in
                 dedup.embedding_near_duplicates(
                     embs, threshold=0.95).collect()}
        lsh = {(r["id_a"], r["id_b"]) for r in
               dedup.embedding_near_duplicates(
                   embs, threshold=0.95, n_planes=16, bands=4).collect()}
        assert lsh <= brute          # exact cosine check: no false positives
        assert len(brute) >= 40
        assert len(lsh) >= 0.9 * len(brute)

    def test_jaccard_stop_shingle_cap(self, spark):
        # every doc shares one stop phrase; without the document-frequency
        # cap that shingle alone makes all O(n²) pairs candidates.
        n = 60
        rows = [(i, f"unique token run {i} alpha{i} beta{i} "
                    "the common stop phrase tail") for i in range(n)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        capped = dedup.ngram_jaccard_pairs(
            docs, threshold=0.01, max_docs_per_shingle=10).collect()
        uncapped = dedup.ngram_jaccard_pairs(
            docs, threshold=0.01, max_docs_per_shingle=10_000).collect()
        # uncapped: every pair shares the stop shingles → n*(n-1)/2 pairs
        assert len(uncapped) == n * (n - 1) // 2
        # capped: stop shingles dropped before the self-join → no pairs
        assert len(capped) == 0

    def test_jaccard_size_ratio_prefilter_is_exact(self, spark):
        # the length-filter bound (jaccard >= t requires min >= t*max)
        # prunes candidates but can never change the output: compare
        # against brute-force jaccard on a size-diverse corpus (doc sizes
        # 2..30 words, so many pairs fail the ratio bound)
        import itertools
        import random
        rng = random.Random(5)
        vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta"]
        rows = [(i, " ".join(rng.choice(vocab)
                             for _ in range(rng.randint(2, 30))))
                for i in range(40)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {(r["id_a"], r["id_b"]): r["jaccard"]
               for r in dedup.ngram_jaccard_pairs(
                   docs, threshold=0.5).collect()}

        def shset(t):
            w = t.split()
            return {" ".join(w[i:i + 3])
                    for i in range(max(len(w) - 2, 1))}
        sets = {i: shset(t) for i, t in rows}
        exp = {}
        for i, j in itertools.combinations(range(40), 2):
            a, b = sets[i], sets[j]
            jac = len(a & b) / len(a | b)
            if jac >= 0.5:
                exp[(i, j)] = jac
        assert set(got) == set(exp)
        for k, v in exp.items():
            assert abs(got[k] - v) < 1e-9

    def test_lsh_hot_band_bucket_cap(self, spark):
        # one degenerate direction shared by 150 vectors makes every band
        # bucket it lands in hot (150 ids → 11k+ in-bucket pairs); the
        # bucket cap must drop those buckets before any array/pair
        # expansion while keeping the well-separated genuine twin pair.
        import random
        rng = random.Random(11)
        hot = [rng.gauss(0, 1) for _ in range(16)]
        rows = [(i, [x + rng.gauss(0, 1e-4) for x in hot])
                for i in range(150)]
        twin_base = [-x for x in hot]        # opposite sign pattern
        rows.append((1000, twin_base))
        rows.append((1001, [x + rng.gauss(0, 1e-4) for x in twin_base]))
        embs = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>")
        capped = {(r["id_a"], r["id_b"]) for r in
                  dedup.embedding_near_duplicates(
                      embs, threshold=0.95, n_planes=16, bands=4,
                      max_bucket_size=100).collect()}
        assert capped == {(1000, 1001)}
        uncapped = {(r["id_a"], r["id_b"]) for r in
                    dedup.embedding_near_duplicates(
                        embs, threshold=0.95, n_planes=16, bands=4,
                        max_bucket_size=None).collect()}
        assert (1000, 1001) in uncapped
        assert len(uncapped) == 150 * 149 // 2 + 1

    def test_hyperplane_mis_sized_vector_fails_loudly(self, spark):
        # a vector whose dimension differs from the table's must raise at
        # execution, not silently hash to an all-zero band key
        import pytest
        rows = [(0, [1.0] * 8), (1, [1.0] * 8), (2, [1.0] * 4)]
        embs = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>")
        with pytest.raises(Exception, match="vector dimension"):
            dedup.hyperplane_signatures(embs, n_planes=8, bands=4,
                                        dim=8).collect()

    def test_line_dedup_corpus_wide(self, spark):
        # C4-style corpus-level line dedup: a line shared across docs
        # survives only in the lowest-id doc; empty lines always survive;
        # a doc whose every non-empty line is owned elsewhere comes back
        # with only its blanks (or empty text), never silently dropped.
        rows = [
            (0, "shared header\nunique zero\n\nshared footer"),
            (1, "shared header\nunique one\nshared footer"),
            (2, "shared header"),
            (3, "solo doc\nsolo doc"),   # within-doc repeat, corpus-unique
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")

        stats = {r["doc_id"]: (r["n_lines"], r["n_corpus_dup_lines"])
                 for r in dedup.line_dedup_stats(docs).collect()}
        assert stats[0] == (4, 2)   # header+footer shared; blank not counted
        assert stats[1] == (3, 2)
        assert stats[2] == (1, 1)
        assert stats[3] == (2, 0)   # within-doc repeat is not a corpus dup

        clean = {r["doc_id"]: r["clean_text"]
                 for r in dedup.drop_duplicate_lines(docs).collect()}
        assert clean[0] == "shared header\nunique zero\n\nshared footer"
        assert clean[1] == "unique one"       # both shared lines removed
        assert clean[2] == ""                 # all lines removed, doc kept
        assert clean[3] == "solo doc\nsolo doc"
        assert set(clean) == {0, 1, 2, 3}

    def test_incremental_dedup_equals_batch(self, spark):
        # incremental exact dedup against the historical index must
        # decide exactly what a batch recompute over history ∪ batch
        # would: dup-of-history → drop_seen (keeper = historical id),
        # dup-within-batch → drop_batch (earliest batch id keeps),
        # fresh → keep; and the updated index equals an index built
        # from scratch over the union.
        hist = spark.createDataFrame(
            [(0, "aaa"), (1, "bbb"), (2, "aaa")],
            "doc_id long, text string")
        batch = spark.createDataFrame(
            [(10, "bbb"), (11, "ccc"), (12, "ccc"), (13, "ddd")],
            "doc_id long, text string")
        idx = dedup.exact_dedup_index(hist)
        dec = {r["doc_id"]: (r["decision"], r["keep_id"])
               for r in dedup.dedup_against_index(batch, idx).collect()}
        assert dec[10] == ("drop_seen", 1)
        assert dec[11] == ("keep", 11)
        assert dec[12] == ("drop_batch", 11)
        assert dec[13] == ("keep", 13)

        new_idx = dedup.updated_dedup_index(
            idx, dedup.dedup_against_index(batch, idx), batch)
        scratch = dedup.exact_dedup_index(hist.unionByName(batch))
        got = {r["text_hash"]: r["keep_id"] for r in new_idx.collect()}
        exp = {r["text_hash"]: r["keep_id"] for r in scratch.collect()}
        assert got == exp

    @pytest.mark.parametrize("seed", [7, 21, 99])
    def test_incremental_dedup_fuzz_equals_batch(self, spark, seed):
        # randomized equivalence: split a collision-heavy corpus (tiny
        # alphabet, nulls, repeated/null ids) into history + batch;
        # dedup_against_index decisions must equal a pure-Python replay
        # of the contract (batch ids sort after history ids), and the
        # updated index must equal indexing the union from scratch.
        import random
        rng = random.Random(seed)
        alphabet = ["aa", "bb", "cc", None]
        hist = [(i, rng.choice(alphabet)) for i in range(20)]
        batch = [(rng.choice([100 + i, 100 + i, None]),
                  rng.choice(alphabet)) for i in range(15)]
        schema = "doc_id long, text string"
        hdf = spark.createDataFrame(hist, schema)
        bdf = spark.createDataFrame(batch, schema)
        idx = dedup.exact_dedup_index(hdf)
        got = {(r["doc_id"], r["text_hash"]): (r["decision"], r["keep_id"])
               for r in dedup.dedup_against_index(bdf, idx).collect()}

        def key(t):
            return t if t is not None else ":null:"
        seen = {}
        for i, t in sorted(hist, key=lambda x: x[0]):
            seen.setdefault(key(t), i)
        batch_min = {}
        for i, t in batch:
            k = key(t)
            if i is not None and (k not in batch_min
                                  or batch_min[k] is None
                                  or i < batch_min[k]):
                batch_min[k] = i
            batch_min.setdefault(k, i)
        exp = {}
        for i, t in set(batch):
            k = key(t)
            if k in seen:
                exp[i, k] = ("drop_seen", seen[k])
            elif i is not None and i == batch_min[k] or \
                    (i is None and batch_min[k] is None):
                exp[i, k] = ("keep", i)
            else:
                exp[i, k] = ("drop_batch", batch_min[k])
        # spark hashes, python raw keys: compare on (id, decision set)
        from log2seq_spark.operators.dedup import _nullsafe_text_hash
        hmap = {r["text"]: r["h"] for r in spark.createDataFrame(
            [(a,) for a in alphabet], "text string")
            .select("text", _nullsafe_text_hash("text").alias("h"))
            .collect()}
        exp_hashed = {(i, hmap[None if k == ":null:" else k]): v
                      for (i, k), v in exp.items()}
        assert got == exp_hashed
        new_idx = dedup.updated_dedup_index(
            idx, dedup.dedup_against_index(bdf, idx))
        scratch = dedup.exact_dedup_index(hdf.unionByName(bdf))
        got_idx = {r["text_hash"]: r["keep_id"]
                   for r in new_idx.collect()}
        exp_idx = {r["text_hash"]: r["keep_id"]
                   for r in scratch.collect()}
        assert got_idx == exp_idx

    def test_incremental_dedup_null_text(self, spark):
        # batch exact_duplicates groups null texts (groupBy NULL key);
        # the incremental index must too — a plain md5 would emit NULL
        # hashes that the equi-join silently drops
        hist = spark.createDataFrame(
            [(0, None), (1, "x")], "doc_id long, text string")
        batch = spark.createDataFrame(
            [(10, None)], "doc_id long, text string")
        dec = dedup.dedup_against_index(
            batch, dedup.exact_dedup_index(hist)).collect()
        assert [(r["decision"], r["keep_id"]) for r in dec] == \
            [("drop_seen", 0)]

    def test_dedup_decisions_null_id_duplicate_flagged(self, spark):
        # a null-id row sharing content with a real-id row must be
        # drop_exact (plain id != keeper yields NULL -> never flags);
        # null-id rows sharing content with each other behave as one
        # doc (the family-wide convention) and keep
        docs = spark.createDataFrame(
            [(None, "T"), (7, "T"), (None, "U"), (None, "U")],
            "doc_id long, text string")
        rows = dedup.dedup_decisions(
            docs, near_pairs=spark.createDataFrame(
                [], "id_a long, id_b long, jaccard double")).collect()
        decs = {}
        for r in rows:
            decs.setdefault(r["doc_id"], []).append(r["decision"])
        assert decs[7] == ["keep"]
        assert sorted(decs[None]) == ["drop_exact", "keep", "keep"]

    def test_line_dedup_null_id_doc_keeps_text(self, spark):
        # reassembly joins kept lines back to the doc roster; a plain
        # _id equi-join never matches a null key, silently blanking the
        # whole text of a null-id document
        docs = spark.createDataFrame(
            [(None, "unique content line\nsecond line")],
            "doc_id long, text string")
        batch = dedup.drop_duplicate_lines(docs).collect()
        assert batch == [(None, "unique content line\nsecond line")]

    def test_incremental_dedup_null_keeper_is_seen(self, spark):
        # content first seen under a null-id doc indexes with
        # keep_id NULL; the hash is still IN the index, so a later
        # identical doc must be drop_seen — testing keeper.isNotNull()
        # as the presence signal re-keeps it every batch
        hist = spark.createDataFrame(
            [(None, "T")], "doc_id long, text string")
        batch = spark.createDataFrame(
            [(7, "T")], "doc_id long, text string")
        idx = dedup.exact_dedup_index(hist)
        dec = dedup.dedup_against_index(batch, idx).collect()
        assert [(r["decision"], r["keep_id"]) for r in dec] == \
            [("drop_seen", None)]
        # and the absorbed index must NOT hand ownership to doc 7
        new_idx = dedup.updated_dedup_index(
            idx, dedup.dedup_against_index(batch, idx))
        assert {r["keep_id"] for r in new_idx.collect()} == {None}

    def test_incremental_near_dup_null_owner_bucket(self, spark):
        # an LSH bucket whose historical owner is a null-id doc is
        # OCCUPIED: a colliding batch doc must flag is_near_dup (with
        # match_id null — there is no orderable owner), and a null-id
        # batch doc must still receive its verdict row
        text = "the quick brown fox jumps over the lazy dog"
        hist = spark.createDataFrame(
            [(None, text)], "doc_id long, text string")
        batch = spark.createDataFrame(
            [(7, text), (None, "fresh unrelated words nothing shared")],
            "doc_id long, text string")
        idx = dedup.minhash_index(hist)
        dec = {r["doc_id"]: (r["is_near_dup"], r["match_id"])
               for r in dedup.near_dup_against_index(batch, idx).collect()}
        assert dec[7] == (True, None)
        assert dec[None] == (False, None)
        # first-wins absorption: the null-owner buckets stay null-owned
        new_idx = dedup.updated_minhash_index(idx, batch)
        hist_buckets = {(r["band"], r["band_hash"])
                        for r in idx.collect()}
        for r in new_idx.collect():
            if (r["band"], r["band_hash"]) in hist_buckets:
                assert r["keep_id"] is None

    def test_line_dedup_sep_mismatch_raises(self, spark):
        docs = spark.createDataFrame(
            [(0, "a\n\nb")], "doc_id long, text string")
        own = dedup.line_ownership(docs, sep="\n\n")
        with pytest.raises(ValueError, match="sep"):
            dedup.drop_duplicate_lines(docs, ownership=own)  # default \n
        # matching sep passes through
        out = dedup.drop_duplicate_lines(docs, ownership=own, sep="\n\n")
        assert out.collect()[0]["clean_text"] == "a\n\nb"

    def test_incremental_near_dup_index(self, spark):
        # LSH screening against the persisted bucket index: a new doc
        # nearly identical to history hits a shared band bucket
        # (match_id = historical owner); a fresh doc does not; in-batch
        # near-dups point at the earlier batch doc; and the updated
        # index equals one built from scratch over the union.
        hist = spark.createDataFrame(
            [(0, "the quick brown fox jumps over the lazy dog"),
             (1, "completely different content about spark engines")],
            "doc_id long, text string")
        batch = spark.createDataFrame(
            [(10, "the quick brown fox jumps over the lazy dog"),
             (11, "unrelated fresh words nothing shared whatsoever here"),
             (12, "unrelated fresh words nothing shared whatsoever here")],
            "doc_id long, text string")
        idx = dedup.minhash_index(hist)
        dec = {r["doc_id"]: (r["is_near_dup"], r["match_id"])
               for r in dedup.near_dup_against_index(batch, idx).collect()}
        assert dec[10] == (True, 0)
        assert dec[11] == (False, None)
        assert dec[12] == (True, 11)

        got = {(r["band"], r["band_hash"]): r["keep_id"]
               for r in dedup.updated_minhash_index(idx, batch).collect()}
        exp = {(r["band"], r["band_hash"]): r["keep_id"]
               for r in dedup.minhash_index(
                   hist.unionByName(batch)).collect()}
        assert got == exp

    def test_span_dedup_null_id_doc(self, spark):
        # the span twin of the line-reassembly fix: a null-id doc's
        # unique text survives, and its removable duplicate windows are
        # removed in favor of the real-id keeper
        uniq = "completely unshared words live here today friends"
        solo = spark.createDataFrame(
            [(None, uniq)], "doc_id long, text string")
        assert dedup.drop_duplicate_spans(solo, k=8).collect() == \
            [(None, uniq)]
        # and a null-id doc's removable windows ARE removed in favor
        # of the real-id keeper (plain != never flagged them)
        shared = "one two three four five six seven eight"
        docs = spark.createDataFrame(
            [(3, shared + " alpha"), (None, shared + " omega")],
            "doc_id long, text string")
        got = {r["doc_id"]: r["clean_text"]
               for r in dedup.drop_duplicate_spans(docs, k=8).collect()}
        assert got == {3: shared + " alpha", None: "omega"}

    def test_near_dup_in_batch_null_and_same_id_collisions(self, spark):
        # in-batch priority follows the identity ordering: a null-id
        # doc colliding with a real-id batch peer is flagged against
        # it (a plain min(id) < id test is NULL and never fires), and
        # two same-id payloads sharing a bucket surface exactly one
        # flagged verdict
        text = "the quick brown fox jumps over the lazy sleeping dog"
        empty = spark.createDataFrame(
            [], "band int, band_hash string, keep_id long")
        batch = spark.createDataFrame(
            [(None, text), (7, text)], "doc_id long, text string")
        dec = {r["doc_id"]: (r["is_near_dup"], r["match_id"])
               for r in dedup.near_dup_against_index(batch, empty).collect()}
        assert dec[7] == (False, None)
        assert dec[None] == (True, 7)

        batch2 = spark.createDataFrame(
            [(7, text), (7, text.replace("jumps", "leaps"))],
            "doc_id long, text string")
        dec2 = sorted((r["is_near_dup"], r["match_id"])
                      for r in dedup.near_dup_against_index(
                          batch2, empty).collect())
        assert dec2 == [(False, None), (True, 7)]

    def test_near_dup_repeated_id_per_payload_verdicts(self, spark):
        # an id repeated with different payloads signs one signature
        # set PER PAYLOAD (keyed by id alone, both docs' shingles fold
        # into one merged signature matching neither) and receives one
        # verdict per (id, content hash)
        text = "the quick brown fox jumps over the lazy sleeping dog"
        hist = spark.createDataFrame(
            [(0, text)], "doc_id long, text string")
        batch = spark.createDataFrame(
            [(7, text),
             (7, "totally unrelated words about columnar engines here")],
            "doc_id long, text string")
        idx = dedup.minhash_index(hist)
        dec = {r["text_hash"]: (r["is_near_dup"], r["match_id"])
               for r in dedup.near_dup_against_index(batch, idx).collect()}
        assert len(dec) == 2
        verdicts = sorted(dec.values())
        assert verdicts == [(False, None), (True, 0)]
        # the signature feed itself is per (id, content)
        sigs = dedup.minhash_band_signatures(batch)
        assert sigs.select("_id", "_th").distinct().count() == 2

    def test_paragraph_dedup_via_sep(self, spark):
        # sep="\n\n" switches the unit to paragraphs: a repeated footer
        # block survives only in the lowest-id doc while the docs' own
        # multi-line paragraphs (which share no FULL paragraph) survive
        footer = "standard footer\ncontact us\nall rights reserved"
        rows = [
            (0, "intro zero\nmore zero\n\n" + footer),
            (1, "intro one\nmore one\n\n" + footer),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        clean = {r["doc_id"]: r["clean_text"]
                 for r in dedup.drop_duplicate_lines(
                     docs, sep="\n\n").collect()}
        assert clean[0] == rows[0][1]
        assert clean[1] == "intro one\nmore one"
        stats = {r["doc_id"]: (r["n_lines"], r["n_corpus_dup_lines"])
                 for r in dedup.line_dedup_stats(
                     docs, sep="\n\n").collect()}
        assert stats[0] == (2, 1) and stats[1] == (2, 1)

    def test_duplicate_span_dedup(self, spark):
        # Lee et al.-style exact substring dedup over k-token windows:
        # a 10-token run shared between docs 0/1 survives only in doc 0;
        # doc with < k tokens is untouched (zero windows, exact dedup's
        # job); interval merge counts one span, not three windows.
        shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        rows = [
            (0, shared + " unique0 tail0"),
            (1, shared + " unique1 tail1"),
            (2, "totally different words here nothing shared at all "
                "with others content"),
            (3, "short doc"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        stats = {r["doc_id"]: r.asDict()
                 for r in dedup.duplicate_span_stats(docs, k=8).collect()}
        assert stats[0]["n_dup_windows"] == 0          # keeper untouched
        assert stats[1]["n_dup_windows"] == 3          # windows @0,1,2
        assert stats[1]["n_spans"] == 1                # merged interval
        assert stats[1]["dup_tokens"] == 10            # positions 0..9
        assert stats[3]["n_windows"] == 0              # < k tokens
        clean = {r["doc_id"]: r["clean_text"]
                 for r in dedup.drop_duplicate_spans(docs, k=8).collect()}
        assert clean[0] == shared + " unique0 tail0"
        assert clean[1] == "unique1 tail1"
        assert clean[3] == "short doc"
        assert set(clean) == {0, 1, 2, 3}

    def test_line_profile_equals_composite(self, spark):
        # fused line profile ≡ line_dedup_stats ⋈ drop_duplicate_lines
        # for docs with non-NULL text (NULL-text docs emit no ownership
        # rows; the composite's inner join dropped them too)
        rows = [
            (0, "shared line\nunique zero\nshared line"),
            (1, "shared line\nunique one"),
            (2, "shared line"),                  # fully removable
            (3, ""),                             # one empty line
            (4, "\n\n"),                         # only empty lines
            (5, "solo doc no dups at all"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        comp = (dedup.line_dedup_stats(docs)
                .join(dedup.drop_duplicate_lines(docs), "doc_id"))
        cols = ["doc_id", "n_lines", "n_corpus_dup_lines", "clean_text"]
        exp = sorted(tuple(r[c] for c in cols) for r in comp.collect())
        got = sorted(tuple(r[c] for c in cols)
                     for r in dedup.line_dedup_profile(docs).collect())
        assert got == exp
        assert len(got) == len(rows)

    def test_span_profile_equals_composite(self, spark):
        # the fused per-doc profile must equal the inner join of the
        # two row-shaped operators on every id — boundary-heavy corpus:
        # exact dups, partial-overlap dups, short (<k) docs, empty and
        # punctuation-only text, fully-removable docs, a mid-doc span
        shared = "alpha beta gamma delta epsilon zeta eta theta"
        rows = [
            (0, shared + " keeper tail zero"),
            (1, shared + " later tail one"),
            (2, "head words then " + shared + " and a tail here too"),
            (3, shared),                          # fully removable
            (4, shared),                          # exact dup of 3
            (5, "short doc"),                     # < k tokens
            (6, ""),                              # empty
            (7, "!!! ??? ..."),                   # normalizes to empty
            (8, "totally unshared content words nothing common "
                "with anything else present"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        composite = (dedup.duplicate_span_stats(docs, k=8)
                     .join(dedup.drop_duplicate_spans(docs, k=8),
                           "doc_id"))
        cols = ["doc_id", "n_toks", "n_windows", "n_dup_windows",
                "n_spans", "dup_tokens", "clean_text"]
        exp = sorted(tuple(r[c] for c in cols)
                     for r in composite.collect())
        got = sorted(tuple(r[c] for c in cols)
                     for r in dedup.duplicate_span_profile(
                         docs, k=8).collect())
        assert got == exp
        assert len(got) == len(rows)

    def test_span_profile_rejects_null_id(self, spark):
        # a null id never equals itself in the profile's join, so the
        # doc would vanish from the result without a word: the action
        # fails instead, whether or not the doc holds a duplicate span
        shared = "alpha beta gamma delta epsilon zeta eta theta"
        for null_text in (shared + " tail", "short doc"):
            docs = spark.createDataFrame(
                [(0, shared + " keeper"), (None, null_text),
                 (2, "other words here")], "doc_id long, text string")
            with pytest.raises(Exception, match="null doc_id"):
                dedup.duplicate_span_profile(docs, k=8).collect()


class TestSimilarity:
    def test_zero_vector_does_not_crash(self, spark):
        # ANSI mode (Spark 4 default) makes a bare division THROW
        # DIVIDE_BY_ZERO — one all-zero (padded/corrupt) embedding must
        # score 0, not kill the query
        embs = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.0, 0.0])],
            "vec_id long, embedding array<float>")
        got = {r["vec_id"]: r["cosine"]
               for r in similarity.cosine_topk(embs, [1.0, 0.0],
                                               k=2).collect()}
        assert got[1] == 1.0 and got[2] == 0.0
        # a zero QUERY vector scores everything 0
        out = similarity.cosine_topk(embs, [0.0, 0.0], k=2).collect()
        assert {r["cosine"] for r in out} == {0.0}

    def test_brute_topk(self, spark):
        rows = [(i, [math.cos(i / 10.0), math.sin(i / 10.0)]) for i in range(50)]
        embs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        top = similarity.cosine_topk(embs, [1.0, 0.0], k=3).collect()
        assert [r["vec_id"] for r in top] == [0, 1, 2]

    def test_ivf_matches_brute_with_full_probe(self, spark):
        rows = [(i, [math.cos(i / 7.0), math.sin(i / 7.0)]) for i in range(60)]
        embs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        cents = [[1.0, 0.0], [0.0, 1.0], [-1.0, 0.0], [0.0, -1.0]]
        q = [0.6, 0.8]
        brute = [r["vec_id"] for r in
                 similarity.cosine_topk(embs, q, k=5).collect()]
        full = [r["vec_id"] for r in
                similarity.ivf_topk(embs, cents, q, k=5, n_probe=4).collect()]
        assert full == brute
        approx = [r["vec_id"] for r in
                  similarity.ivf_topk(embs, cents, q, k=5, n_probe=1).collect()]
        assert set(approx) <= set(range(60)) and len(approx) == 5

    def test_ivf_index_prunes_partitions(self, spark, tmpdir_path):
        rows = [(i, [math.cos(i / 7.0), math.sin(i / 7.0)]) for i in range(60)]
        embs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        cents = [[1.0, 0.0], [0.0, 1.0], [-1.0, 0.0], [0.0, -1.0]]
        q = [0.6, 0.8]
        idx = tmpdir_path + "/ivf"
        similarity.build_ivf_index(embs, cents, idx)
        # indexed results == on-the-fly results (same centroids/probes)
        fly = [(r["vec_id"], round(r["cosine"], 9)) for r in
               similarity.ivf_topk(embs, cents, q, k=5, n_probe=2).collect()]
        idxed_df = similarity.ivf_topk_indexed(spark, idx, cents, q,
                                               k=5, n_probe=2)
        idxed = [(r["vec_id"], round(r["cosine"], 9))
                 for r in idxed_df.collect()]
        assert idxed == fly
        # the centroid probe must prune at scan time, not post-scan filter
        plan = idxed_df._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "centroid" in plan

    def test_ivf_append_equals_one_shot_build(self, spark, tmpdir_path):
        """Incremental ingestion invariant: build(batch A) + append(B)
        + append(C) answers every probe exactly like one build over
        A ∪ B ∪ C, the stamped centroids drive probes with
        centroids=None, and pruning still holds after appends."""
        rows = [(i, [math.cos(i / 7.0), math.sin(i / 7.0)])
                for i in range(90)]
        schema = "vec_id long, embedding array<float>"
        a = spark.createDataFrame(rows[:30], schema)
        b = spark.createDataFrame(rows[30:60], schema)
        c = spark.createDataFrame(rows[60:], schema)
        cents = [[1.0, 0.0], [0.0, 1.0], [-1.0, 0.0], [0.0, -1.0]]
        incr = tmpdir_path + "/ivf_incr"
        full = tmpdir_path + "/ivf_full"
        similarity.build_ivf_index(a, cents, incr)
        similarity.append_ivf_index(b, incr)
        similarity.append_ivf_index(c, incr)
        similarity.build_ivf_index(
            spark.createDataFrame(rows, schema), cents, full)
        assert similarity.load_ivf_centroids(spark, incr) == cents
        for q in ([0.6, 0.8], [-1.0, 0.1], [0.0, -1.0]):
            want = [(r["vec_id"], round(r["cosine"], 9)) for r in
                    similarity.ivf_topk_indexed(spark, full, cents, q,
                                                k=7, n_probe=2).collect()]
            got_df = similarity.ivf_topk_indexed(spark, incr, None, q,
                                                 k=7, n_probe=2)
            got = [(r["vec_id"], round(r["cosine"], 9))
                   for r in got_df.collect()]
            assert got == want
        plan = got_df._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "centroid" in plan

    def test_ivf_append_refuses_unstamped_dir(self, spark, tmpdir_path):
        rows = [(i, [1.0, float(i)]) for i in range(5)]
        embs = spark.createDataFrame(rows,
                                     "vec_id long, embedding array<float>")
        bare = tmpdir_path + "/not_an_index"
        embs.write.mode("overwrite").parquet(bare)
        with pytest.raises(ValueError, match="_ivf_centroids"):
            similarity.append_ivf_index(embs, bare)

    def test_ivf_recall_at_sf01(self, spark):
        # recall@20 of the pruned IVF path vs exact brute force on the
        # real sf0.1 embeddings table (2000 x real vectors, k-means
        # centroids): the quality bar for the approximate scale path.
        # Measured 0.95 at n_probe=2 and 3 (k_cells=8); asserted >= 0.9.
        embs = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        q = [float(x) for x in
             embs.orderBy("vec_id").limit(1).collect()[0]["embedding"]]
        cents = similarity.kmeans_centroids(embs, k=8, n_iter=2)
        brute = {r["vec_id"] for r in
                 similarity.cosine_topk(embs, q, k=20).collect()}
        ivf = {r["vec_id"] for r in
               similarity.ivf_topk(embs, cents, q, k=20,
                                   n_probe=3).collect()}
        recall = len(ivf & brute) / 20
        assert recall >= 0.9

    def test_kmeans_centroids_deterministic_and_clustered(self, spark):
        # two tight clusters around +x and +y; k-means from the 2 lowest-id
        # seeds must land one centroid near each cluster mean.
        rows = ([(i, [1.0 + 0.01 * (i % 5), 0.01 * i]) for i in range(20)]
                + [(100 + i, [0.01 * i, 2.0 + 0.01 * (i % 5)])
                   for i in range(20)])
        embs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        c1 = similarity.kmeans_centroids(embs, k=2, n_iter=3)
        c2 = similarity.kmeans_centroids(embs, k=2, n_iter=3)
        assert c1 == c2            # fully deterministic
        # one centroid x-dominant, the other y-dominant
        xdom = [c for c in c1 if c[0] > c[1]]
        ydom = [c for c in c1 if c[1] > c[0]]
        assert len(xdom) == 1 and len(ydom) == 1


class TestTemplates:
    def _mine(self, spark, lines):
        from log2seq_spark.operators import templates
        df = spark.createDataFrame([(t,) for t in lines], "text string")
        return {r["template"]: (r["n_lines"], r["n_groups"])
                for r in templates.mine_templates(df).collect()}

    def test_wildcard_inference(self, spark):
        out = self._mine(spark, [
            "conn from 10.0.0.1 closed",
            "conn from 10.0.0.2 closed",
            "conn from 10.0.0.3 closed",
            "disk full on /var",
        ])
        assert out["conn from <*> closed"] == (3, 1)
        assert out["disk full on /var"] == (1, 1)   # constants stay literal

    def test_numeric_head_shares_group(self, spark):
        # Drain preprocessing: digit head -> wildcard group, so the two
        # lines meet in one group and position 1 is inferred variable
        out = self._mine(spark, [
            "17 packets dropped",
            "42 packets dropped",
        ])
        assert out == {"<*> packets dropped": (2, 1)}

    def test_token_count_splits_groups(self, spark):
        out = self._mine(spark, [
            "job a done", "job b done", "job c done fast",
        ])
        assert out["job <*> done"] == (2, 1)
        assert out["job c done fast"] == (1, 1)

    def test_matches_pure_python_spec(self, spark):
        # randomized (seeded) corpus vs an independent pure-Python
        # implementation of the same spec
        import random
        from collections import defaultdict
        rng = random.Random(7)
        verbs = ["start", "stop", "retry"]
        lines = []
        for _ in range(300):
            kind = rng.randrange(3)
            if kind == 0:
                lines.append(f"svc{rng.randrange(3)} {rng.choice(verbs)} "
                             f"code {rng.randrange(5)}")
            elif kind == 1:
                lines.append(f"{rng.randrange(100)} bytes sent")
            else:
                lines.append("heartbeat ok")
        groups = defaultdict(list)
        for ln in lines:
            w = ln.split(" ")
            head = "<*>" if w[0].isdigit() else w[0]
            groups[(len(w), head)].append(w)
        expected = defaultdict(lambda: [0, 0])
        for (_n, _h), ws in groups.items():
            cols = list(zip(*ws))
            tpl = " ".join("<*>" if len(set(c)) > 1 else min(c)
                           for c in cols)
            expected[tpl][0] += len(ws)
            expected[tpl][1] += 1
        out = self._mine(spark, lines)
        assert out == {t: (n, g) for t, (n, g) in expected.items()}

    def test_dedup_lines_profile_equals_default(self, spark):
        # dedup_lines=True pre-aggregates identical token arrays before
        # the explode — the profile (and every downstream product) must
        # be identical. Corpus mixes heavy repeats, unique lines, blank
        # and NULL text, and a numeric-head family.
        from log2seq_spark.operators import templates
        lines = (["conn from 10.0.0.1 closed"] * 40
                 + ["conn from 10.0.0.2 closed"] * 2
                 + [f"{i} bytes sent" for i in range(25)]
                 + ["heartbeat ok"] * 17
                 + ["", "   ", None, "lone singleton line here"])
        df = spark.createDataFrame([(t,) for t in lines], "text string")
        base = sorted(map(tuple, templates.position_profiles(
            df, "text").collect()))
        dd = sorted(map(tuple, templates.position_profiles(
            df, "text", dedup_lines=True).collect()))
        assert dd == base
        m = lambda o: {r["template"]: (r["n_lines"], r["n_groups"])
                       for r in o.collect()}
        assert m(templates.mine_templates(df, dedup_lines=True)) == \
            m(templates.mine_templates(df))

    def test_blank_lines_contribute_nothing(self, spark):
        # zero-token lines (blank / whitespace-only / NULL) must neither
        # crash (ANSI element_at on the empty token array threw before
        # the try_element_at hardening whenever Catalyst materialized
        # the head projection) nor mint a phantom group
        from log2seq_spark.operators import templates
        df = spark.createDataFrame(
            [("error foo bar",), ("",), ("   ",), ("\t",), (None,),
             ("error baz bar",)], "text string")
        out = {r["template"]: (r["n_lines"], r["n_groups"])
               for r in templates.mine_templates(df).collect()}
        assert out == {"error <*> bar": (2, 1)}

    def test_incremental_merge_equals_full(self, spark):
        # profile(A) ⊕ profile(B) == profile(A ∪ B): the mergeable-state
        # property that makes mining incrementally updatable (fold each
        # new batch into a tiny profile table, refinalize from state)
        from log2seq_spark.operators import templates
        a_lines = ["conn from 10.0.0.1 closed", "disk full on /var",
                   "17 packets dropped"]
        b_lines = ["conn from 10.0.0.9 closed", "42 packets dropped",
                   "conn from 10.0.0.1 closed"]
        mk = lambda ls: spark.createDataFrame([(t,) for t in ls],
                                              "text string")
        merged = templates.merge_profiles(
            templates.position_profiles(mk(a_lines)),
            templates.position_profiles(mk(b_lines)))
        inc = sorted(map(tuple,
                         templates.templates_from_profiles(merged).collect()))
        full = sorted(map(tuple,
                          templates.mine_templates(
                              mk(a_lines + b_lines)).collect()))
        assert inc == full
        assert ("conn from <*> closed", 3, 1) in full
        assert ("<*> packets dropped", 2, 1) in full

    def test_whitespace_robust_tokenization(self, spark):
        # consecutive spaces / tabs must not create phantom empty-token
        # positions (raw single-space splitting would put these three
        # lines in three different token-count groups)
        out = self._mine(spark, [
            "conn from 10.0.0.1 closed",
            "conn  from\t10.0.0.2  closed",
            "conn from   10.0.0.3\tclosed",
        ])
        assert out == {"conn from <*> closed": (3, 1)}

    def test_tokens_col_input(self, spark):
        # pre-tokenized array<string> input (the parsed-words hand-off)
        from log2seq_spark.operators import templates
        rows = [(["job", str(i), "done"],) for i in range(4)]
        df = spark.createDataFrame(rows, "words array<string>")
        out = {r["template"]: (r["n_lines"], r["n_groups"])
               for r in templates.mine_templates(
                   df, tokens_col="words").collect()}
        assert out == {"job <*> done": (4, 1)}

    def test_partitioning_invariance(self, spark):
        from log2seq_spark.operators import templates
        lines = [f"task {i % 5} finished in {i} ms" for i in range(40)]
        df = spark.createDataFrame([(t,) for t in lines], "text string")
        a = sorted(map(tuple, templates.mine_templates(df).collect()))
        b = sorted(map(tuple, templates.mine_templates(
            df.repartition(7)).collect()))
        assert a == b
        assert a[0][0] == "task <*> finished in <*> ms"


class TestScrub:
    def test_masking(self, spark):
        d = spark.createDataFrame(
            [(0, "mail a.b-c@x.co.uk or https://e.com/p?q=1 via "
                 "192.168.0.1 call +4915112345678"),
             (1, "nothing sensitive 1.2.3 v2"),
             (2, "ftp://not-a-match and user@@bad and 999.999.999.999")],
            "doc_id long, text string")
        out = {r["doc_id"]: r["scrubbed"]
               for r in scrub.with_scrubbed(d).collect()}
        assert out[0] == "mail <email> or <url> via <ip> call <phone>"
        assert out[1] == "nothing sensitive 1.2.3 v2"
        # ftp not matched; malformed email not matched; 999.* still an
        # ipv4 shape (\d{1,3}) — documented permissive masking
        assert out[2] == "ftp://not-a-match and user@@bad and <ip>"

    def test_stats_and_residue(self, spark):
        d = spark.createDataFrame(
            [(0, "a@b.io and c@d.io from 10.0.0.1"),
             (1, "https://x.y z"),
             (2, "plain")],
            "doc_id long, text string")
        rows = {r["kind"]: r for r in scrub.scrub_stats(d).collect()}
        assert rows["email"]["n_matches"] == 2
        assert rows["email"]["n_docs"] == 1
        assert rows["url"]["n_matches"] == 1
        assert rows["ipv4"]["n_docs"] == 1
        assert rows["phone"]["n_matches"] == 0
        assert all(r["n_after"] == 0 for r in rows.values())

    def test_url_consumes_embedded_address(self, spark):
        # ordering: an address inside a URL is part of the <url> mask,
        # never half-masked by a later rule
        d = spark.createDataFrame(
            [(0, "see https://h.io/u@v.com/10.0.0.1 end")],
            "doc_id long, text string")
        out = scrub.with_scrubbed(d).collect()[0]["scrubbed"]
        assert out == "see <url> end"


class TestTextstats:
    def test_quality(self, docs):
        out = {r["doc_id"]: r for r in
               textstats.quality_features(docs).collect()}
        assert out[0]["n_tokens"] == 9
        assert out[0]["stopword_ratio"] > 0.2
        assert out[0]["quality_score"] == 1.0
        assert out[5]["quality_score"] < 1.0   # too short

    def test_lang_id(self, docs):
        out = {r["doc_id"]: r["predicted_lang"] for r in
               textstats.lang_id(docs).collect()}
        assert out[0] == "en"
        assert out[4] == "de"
        assert out[5] == "und"   # no markers

    def test_token_stats(self, spark):
        d = spark.createDataFrame(
            [(0, "ab 12345 c!!"), (1, "hello world"), (2, "")],
            "doc_id long, text string")
        out = {r["doc_id"]: r for r in textstats.token_stats(d).collect()}
        assert out[0]["ws_tokens"] == 3
        # bpe-ish: "ab" + "123","45" (digit chunks <=3) + "c" + "!!" = 5
        assert out[0]["bpe_tokens"] == 5
        assert out[1]["ws_tokens"] == out[1]["bpe_tokens"] == 2
        assert out[2]["ws_tokens"] == out[2]["bpe_tokens"] == 0

    def test_repetition_stats(self, spark):
        d = spark.createDataFrame(
            [(0, "a b c a b c a b c"),      # "a b c" loops: 7 grams, 3 distinct
             (1, "one two three four five"),  # all grams unique
             (2, "x y"),                      # < 3 tokens -> 0.0
             (3, "l1\nl2\nl1\nl1\n\n"),       # 4 non-empty lines, 2 distinct
             (4, "")],
            "doc_id long, text string")
        out = {r["doc_id"]: r for r in
               textstats.repetition_stats(d).collect()}
        assert abs(out[0]["dup_trigram_ratio"] - (1 - 3 / 7)) < 5e-5
        assert out[1]["dup_trigram_ratio"] == 0.0
        assert out[2]["dup_trigram_ratio"] == 0.0
        assert out[3]["dup_line_ratio"] == 0.5
        assert out[0]["dup_line_ratio"] == 0.0   # single line
        assert out[4]["dup_trigram_ratio"] == 0.0
        assert out[4]["dup_line_ratio"] == 0.0

    def test_winnow_fingerprints(self, spark):
        shared = "a quick brown fox jumped over the sleeping dog today"
        d = spark.createDataFrame(
            [(0, shared + " and ran away"),
             (1, "meanwhile " + shared + " again"),
             (2, "totally unrelated text with different character grams"),
             (3, "x")],   # shorter than k → no fingerprints
            "doc_id long, text string")
        fps = textstats.winnow_fingerprints(d, k=5, window=4)
        by_doc = {}
        for r in fps.collect():
            by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
        # guarantee: a shared substring of length >= k+window-1 yields
        # at least one shared fingerprint
        assert by_doc[0] & by_doc[1]
        # unrelated docs share (almost) nothing: strictly fewer overlaps
        assert len(by_doc[0] & by_doc.get(2, set())) < len(by_doc[0] & by_doc[1])
        assert 3 not in by_doc
        # determinism + density: selected positions are a strict subset
        again = {(r["doc_id"], r["fp"])
                 for r in textstats.winnow_fingerprints(
                     d, k=5, window=4).collect()}
        assert again == {(d_, f) for d_, s in by_doc.items() for f in s}

    def test_winnow_truncation_flag(self, spark):
        # a >cap doc is head-fingerprinted only and must say so; short
        # docs are never flagged, and max_positions=None never truncates
        long_text = " ".join(f"tok{i}" for i in range(900))   # ~6.2KB
        d = spark.createDataFrame(
            [(0, long_text), (1, "short but plenty long enough text")],
            "doc_id long, text string")
        fps = textstats.winnow_fingerprints(d, k=5, window=4)
        flags = {r["doc_id"]: r["truncated"] for r in
                 fps.select("doc_id", "truncated").distinct().collect()}
        assert flags == {0: True, 1: False}
        # cap respected: no fingerprint position beyond max_positions
        n_long = fps.filter("doc_id = 0").count()
        assert 0 < n_long <= 2000
        uncapped = textstats.winnow_fingerprints(
            d, k=5, window=4, max_positions=None)
        flags2 = {r["doc_id"]: r["truncated"] for r in
                  uncapped.select("doc_id", "truncated").distinct().collect()}
        assert flags2 == {0: False, 1: False}
        assert uncapped.filter("doc_id = 0").count() >= n_long

    def test_fingerprint_ignores_case_and_punct(self, spark):
        d = spark.createDataFrame(
            [(0, "Hello, World!"), (1, "hello   world"), (2, "other")],
            "doc_id long, text string")
        fp = {r["doc_id"]: r["fingerprint"] for r in
              textstats.fingerprint(d).collect()}
        assert fp[0] == fp[1] != fp[2]

    def test_fingerprint_dup_pairs(self, spark):
        # docs 0/1 share a long substring buried in otherwise-different
        # text — the MOSS case whole-doc similarity dilutes away
        quote = ("the quick brown fox jumped over the lazy sleeping dog "
                 "while nobody watched the garden gate")
        d = spark.createDataFrame(
            [(0, "intro words before. " + quote + " trailing stuff one"),
             (1, "completely different framing here: " + quote + " bye"),
             (2, "no overlap at all in this document body whatsoever"),
             (3, "another unrelated piece of text content right here")],
            "doc_id long, text string")
        fps = textstats.winnow_fingerprints(d, k=5, window=4)
        pairs = {(r["id_a"], r["id_b"]): r["n_shared_fp"]
                 for r in textstats.fingerprint_dup_pairs(
                     fps, min_shared=5).collect()}
        assert (0, 1) in pairs and pairs[(0, 1)] >= 5
        assert all(p == (0, 1) for p in pairs)
        # ordering invariant: id_a < id_b always
        assert all(a < b for a, b in pairs)

    def test_fingerprint_dup_pairs_df_cap(self, spark):
        # a fingerprint present in EVERY doc is a stop-fingerprint: with
        # the cap below the corpus size it must contribute no pairs
        common = "all documents share this exact boilerplate preamble"
        d = spark.createDataFrame(
            [(i, common) for i in range(6)], "doc_id long, text string")
        fps = textstats.winnow_fingerprints(d, k=5, window=4)
        capped = textstats.fingerprint_dup_pairs(
            fps, min_shared=1, max_docs_per_fp=5)
        assert capped.count() == 0
        uncapped = textstats.fingerprint_dup_pairs(
            fps, min_shared=1, max_docs_per_fp=100)
        assert uncapped.count() == 15  # all C(6,2) identical-doc pairs


class TestMultimodal:
    def test_zero_frame_video_yields_no_frames(self, spark):
        # sequence(0, -1, +step) is a runtime error: one corrupt/empty
        # video row must contribute no frames, not fail the job
        from log2seq_spark.operators.multimodal import frame_sample_plan
        vid = spark.createDataFrame(
            [(1, 90), (2, 0), (3, 1)], "media_id long, n_frames int")
        got = sorted((r["media_id"], r["frame_idx"])
                     for r in frame_sample_plan(vid, every_n=30).collect())
        assert got == [(1, 0), (1, 30), (1, 60), (3, 0)]

    def test_auto_decode_mixed_modalities(self, spark):
        # decode='auto' with Pillow importable resolved globally to
        # 'real', which has no video codec — it must dispatch per
        # media_type (real image/audio, fake video), not crash on the
        # first video row
        media = synthetic_media(spark, 24)
        assert media.filter("media_type = 'video'").count() > 0
        out = extract_features(media, decode="auto").collect()
        assert len(out) == 24
        assert all(len(r["feature"]) == FEATURE_DIM for r in out)

    def test_feature_extraction_plumbing(self, spark):
        media = synthetic_media(spark, 32)
        out = extract_features(media).collect()
        assert len(out) == 32
        for r in out:
            assert len(r["feature"]) == FEATURE_DIM
            assert r["n_bytes"] > 0
            assert 16 <= r["width"] < 256
        # determinism
        again = extract_features(synthetic_media(spark, 32)).collect()
        assert sorted(r["content_hash"] for r in out) == \
            sorted(r["content_hash"] for r in again)

    def test_real_wav_decode(self, spark):
        # the stdlib-wave path is a REAL codec that works everywhere:
        # build a valid 2-channel 16-bit WAV and decode it for real.
        import io
        import wave
        buf = io.BytesIO()
        with wave.open(buf, "wb") as wf:
            wf.setnchannels(2)
            wf.setsampwidth(2)
            wf.setframerate(8000)
            wf.writeframes(bytes(range(256)) * 4)
        media = spark.createDataFrame(
            [(0, "audio", bytearray(buf.getvalue()))],
            "media_id long, media_type string, payload binary")
        r = extract_features(media, decode="real").collect()[0]
        assert r["width"] == 2          # channels
        assert r["height"] == 16        # bit depth
        assert len(r["feature"]) == FEATURE_DIM
        assert any(v > 0 for v in r["feature"])

    def test_real_image_decode_requires_pil(self, spark):
        from log2seq_spark.operators.multimodal import pil_available
        media = spark.createDataFrame(
            [(0, "image", bytearray(b"not-an-image"))],
            "media_id long, media_type string, payload binary")
        if pil_available():
            pytest.skip("PIL present; import-gate not exercisable")
        with pytest.raises(Exception, match="Pillow"):
            extract_features(media, decode="real").collect()

    def test_auto_decode_resolves_by_capability(self, spark):
        from log2seq_spark.operators.multimodal import pil_available
        if pil_available():
            pytest.skip("PIL present: auto=real would reject fake payloads")
        out = extract_features(synthetic_media(spark, 4),
                               decode="auto").collect()
        assert len(out) == 4   # fake fallback without PIL


def _commit_epoch(local, name):
    import os
    os.makedirs(os.path.join(local, name))
    open(os.path.join(local, name, "_SUCCESS"), "w").close()


def _check_params_guard(spark, d, local):
    # enforcement starts only once an epoch has COMMITTED (a failed
    # first run must not lock in its parameters); once epochs exist, a
    # missing/corrupt stamp REFUSES rather than silently restamping
    # with the current run's params — that would accept exactly the
    # drift the guard exists to reject
    import os
    from log2seq_spark.plans.epochs import check_params, committed_ids
    stamp = os.path.join(local, "params.json")
    check_params(d, {"a": 1}, spark=spark)
    check_params(d, {"a": 2}, spark=spark)  # no committed epoch
    # corrupt stamp before any commit: restamp freely
    with open(stamp, "w") as f:
        f.write("{trunc")
    check_params(d, {"a": 2}, spark=spark)
    _commit_epoch(local, "epoch=0")
    assert committed_ids(d, spark=spark) == [0]
    check_params(d, {"a": 2}, spark=spark)
    with pytest.raises(ValueError, match="matching parameters"):
        check_params(d, {"a": 3}, spark=spark)
    with open(stamp, "w") as f:
        f.write("{trunc")                  # lost/corrupt stamp
    with pytest.raises(ValueError, match="refusing to restamp"):
        check_params(d, {"a": 2}, spark=spark)
    os.remove(stamp)                       # lost stamp
    with pytest.raises(ValueError, match="refusing to restamp"):
        check_params(d, {"a": 2}, spark=spark)


def _check_prune(spark, d, local):
    # at keep_epochs=1 the predecessor epoch always survives a commit;
    # at keep_epochs=2 the horizon is epoch-2
    import os
    from log2seq_spark.plans.epochs import committed_ids, prune
    for e in range(3):
        _commit_epoch(local, f"epoch={e}")
        prune(d, e, keep_epochs=1, spark=spark)
    assert committed_ids(d, spark=spark) == [1, 2]
    for e in range(3, 5):
        _commit_epoch(local, f"epoch={e}")
    prune(d, 4, keep_epochs=2, spark=spark)
    # horizon = 4-2 = 2: epoch 1 pruned; 2,3,4 survive
    assert committed_ids(d, spark=spark) == [2, 3, 4]
    assert sorted(n for n in os.listdir(local)
                  if n.startswith("epoch=")) == \
        ["epoch=2", "epoch=3", "epoch=4"]


class TestEpochState:
    """The epoch-state protocol (``plans/epochs.py``) behind
    ``templates --state-dir`` / ``rare --state-dir`` and the dedup
    index's committed-segment listing, over a plain path (the
    ``file://`` twins are in ``TestEpochStateUriPaths``)."""

    def test_epoch_params_guard_recovery(self, spark, tmpdir_path):
        _check_params_guard(spark, tmpdir_path, tmpdir_path)

    def test_committed_ids_glob_metachars(self, spark, tmpdir_path,
                                          path_forms):
        # a state dir whose PATH contains glob metacharacters must not
        # silently read as empty (every run would see an empty state
        # and the params guard would never engage)
        import os
        from log2seq_spark.plans.epochs import committed_ids
        for d, local in path_forms(
                os.path.join(tmpdir_path, "run[2024]")):
            for name in ("epoch=3", "gen=5"):
                _commit_epoch(local, name)
            os.makedirs(os.path.join(local, "epoch=4"))  # uncommitted
            assert committed_ids(d, spark=spark) == [3]
            assert committed_ids(d, "gen", spark=spark) == [5]

    def test_prune_keeps_predecessor(self, spark, tmpdir_path):
        _check_prune(spark, tmpdir_path, tmpdir_path)


class TestDuplicateClusters:
    def _clusters(self, spark, edges, **kw):
        """Run BOTH strategies — the size-gated driver union-find (the
        default for small graphs) and the distributed label-propagation
        rounds (forced via driver_threshold=0) — and assert they agree
        before returning the result."""
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        via_driver = {r["doc_id"]: r["cluster_id"]
                      for r in dedup.duplicate_clusters(pairs, **kw).collect()}
        via_rounds = {r["doc_id"]: r["cluster_id"]
                      for r in dedup.duplicate_clusters(
                          pairs, driver_threshold=0, **kw).collect()}
        assert via_driver == via_rounds
        return via_rounds

    def test_chain_is_transitive(self, spark):
        # a~b, b~c, c~d: pairwise keep-lists retain a AND c; clustering
        # must put all four in one component labeled by the min id
        got = self._clusters(spark, [(1, 2), (2, 3), (3, 4)])
        assert got == {1: 1, 2: 1, 3: 1, 4: 1}

    def test_two_components(self, spark):
        got = self._clusters(spark, [(5, 9), (9, 7), (20, 21)])
        assert got == {5: 5, 9: 5, 7: 5, 20: 20, 21: 20}

    def test_long_path_converges_in_log_rounds(self, spark):
        # path of diameter 16: plain one-hop propagation needs 16 rounds;
        # pointer jumping must finish within 6
        edges = [(i, i + 1) for i in range(16)]
        got = self._clusters(spark, edges, max_iter=6)
        assert got == {i: 0 for i in range(17)}

    def test_empty_pairs(self, spark):
        pairs = spark.createDataFrame([], "id_a long, id_b long")
        out = dedup.duplicate_clusters(pairs)
        assert out.columns == ["doc_id", "cluster_id"]
        assert out.count() == 0

    def test_pair_cache_released(self, spark):
        # the persisted pair list must be unpersisted on return — repeated
        # calls in a long session must not accumulate cached blocks
        # (driver path has no localCheckpoint, so the persistent-RDD set
        # should be exactly unchanged)
        before = spark.sparkContext._jsc.getPersistentRDDs().size()
        pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
        dedup.duplicate_clusters(pairs).collect()
        after = spark.sparkContext._jsc.getPersistentRDDs().size()
        assert after == before


    @pytest.mark.parametrize("seed", [0, 1, 2])
    def test_random_graphs_match_union_find(self, spark, seed):
        import random
        rng = random.Random(seed)
        n = 60
        edges = sorted({tuple(sorted(rng.sample(range(n), 2)))
                        for _ in range(40)})

        parent = list(range(n))
        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x
        for a, b in edges:
            parent[find(a)] = find(b)
        nodes = {v for e in edges for v in e}
        comp = {}
        for v in nodes:
            comp.setdefault(find(v), []).append(v)
        want = {v: min(vs) for vs in comp.values() for v in vs}

        got = self._clusters(spark, [(int(a), int(b)) for a, b in edges])
        assert got == want

    def test_cluster_of_jaccard_pairs_on_docs(self, docs):
        pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.35)
        got = {r["doc_id"]: r["cluster_id"]
               for r in dedup.duplicate_clusters(pairs).collect()}
        # 0/1 exact dups and 2 a near dup of both -> one family kept as 0
        assert got[0] == 0 and got[1] == 0 and got[2] == 0


class TestAsofJoin:
    def test_null_right_ts_is_not_a_match(self, spark):
        # a right row with NULL ts sorts before everything (nulls
        # first) and its payload was carried into left rows with no
        # valid right.ts <= left.ts match — a torn row (payload set,
        # ts_asof null) that also blinded tolerance_sec
        from log2seq_spark.operators.asof import asof_join
        left = spark.createDataFrame(
            [("k1", "2024-01-01 00:00:10")], "k string, ts_s string"
        ).select("k", F.col("ts_s").cast("timestamp").alias("ts"))
        right = spark.createDataFrame(
            [("k1", None, "ghost"), ("k1", "2024-01-01 00:00:50", "later")],
            "k string, ts_s string, val string"
        ).select("k", F.col("ts_s").cast("timestamp").alias("ts"), "val")
        row = asof_join(left, right, on=["k"]).collect()[0]
        assert row["val_asof"] is None and row["ts_asof"] is None

    def test_output_column_collision_raises(self, spark):
        # chaining two asof_joins with the same suffix silently merged
        # the first join's stale outputs into the second's carry — must
        # raise instead (the assert-don't-shadow discipline)
        from log2seq_spark.operators.asof import asof_join
        left = spark.createDataFrame(
            [("k1", "2024-01-01 00:00:10")], "k string, ts_s string"
        ).select("k", F.col("ts_s").cast("timestamp").alias("ts"))
        right = spark.createDataFrame(
            [("k1", "2024-01-01 00:00:05", 1.0)],
            "k string, ts_s string, val double"
        ).select("k", F.col("ts_s").cast("timestamp").alias("ts"), "val")
        once = asof_join(left, right, on=["k"])
        with pytest.raises(ValueError, match="already exist"):
            asof_join(once, right, on=["k"])
        # a different suffix chains fine
        twice = asof_join(once, right, on=["k"], suffix="_asof2")
        assert "val_asof2" in twice.columns

    def _frames(self, spark):
        from pyspark.sql import functions as F
        left = spark.createDataFrame(
            [(1, "u1", "2024-01-01 10:00:00"),
             (2, "u1", "2024-01-01 10:05:00"),
             (3, "u1", "2024-01-01 09:00:00"),   # before any right row
             (4, "u2", "2024-01-01 10:00:00"),   # key with no right rows
             (5, "u3", "2024-01-01 10:00:00")],  # exact-ts tie
            "id long, user string, ts_s string").withColumn(
                "ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
        right = spark.createDataFrame(
            [("u1", "2024-01-01 09:30:00", 10.0),
             ("u1", "2024-01-01 10:02:00", 20.0),
             ("u3", "2024-01-01 10:00:00", 99.0)],
            "user string, ts_s string, value double").withColumn(
                "ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
        return left, right

    def test_latest_prior_match_inclusive_ties(self, spark):
        from log2seq_spark.operators.asof import asof_join
        left, right = self._frames(spark)
        out = {r["id"]: r["value_asof"]
               for r in asof_join(left, right, ["user"]).collect()}
        assert out == {1: 10.0,   # 09:30 is latest <= 10:00
                       2: 20.0,   # 10:02 is latest <= 10:05
                       3: None,   # nothing before 09:00
                       4: None,   # no right rows for u2
                       5: 99.0}   # equal ts matches (inclusive)

    def test_tolerance_voids_stale_matches(self, spark):
        from log2seq_spark.operators.asof import asof_join
        left, right = self._frames(spark)
        out = {r["id"]: r["value_asof"]
               for r in asof_join(left, right, ["user"],
                                  tolerance_sec=600).collect()}
        # id=1 matched a row 30 min old -> voided; id=2 (3 min) kept
        assert out[1] is None and out[2] == 20.0 and out[5] == 99.0

    def test_matches_pandas_merge_asof(self, spark):
        import pandas as pd
        from log2seq_spark.operators.asof import asof_join
        left, right = self._frames(spark)
        got = (asof_join(left, right, ["user"])
               .select("id", "value_asof").toPandas()
               .sort_values("id").reset_index(drop=True))
        want = pd.merge_asof(
            left.toPandas().sort_values("ts"),
            right.toPandas().sort_values("ts").rename(
                columns={"value": "value_asof"}),
            on="ts", by="user", direction="backward")[["id", "value_asof"]]
        want = want.sort_values("id").reset_index(drop=True)
        pd.testing.assert_frame_equal(got, want)


class TestRangeJoin:
    def test_left_matched_fact_with_null_column_not_duplicated(self,
                                                               spark):
        # the unmatched leg anti-joined on all fact columns with
        # null-UNSAFE equality, so a matched fact carrying a NULL in
        # any column also survived as "unmatched" and came back twice
        from log2seq_spark.operators.rangejoin import range_join
        facts = spark.createDataFrame(
            [(1, "u1", "2024-01-01 10:10:00", None),
             (2, "u1", "2024-01-01 11:10:00", None)],  # outside window
            "id long, user string, ts_s string, note string"
        ).select("id", "user",
                 F.col("ts_s").cast("timestamp").alias("ts"), "note")
        wins = spark.createDataFrame(
            [(100, "u1", "2024-01-01 10:00:00", "2024-01-01 10:30:00")],
            "wid long, user string, s string, e string"
        ).select("wid", "user",
                 F.col("s").cast("timestamp").alias("w_start"),
                 F.col("e").cast("timestamp").alias("w_end"))
        out = range_join(facts, wins, on=["user"], fact_ts="ts",
                         win_start="w_start", win_end="w_end",
                         how="left").collect()
        got = sorted((r["id"], r["wid"]) for r in out)
        assert got == [(1, 100), (2, None)]

    def _frames(self, spark):
        from pyspark.sql import functions as F
        facts = spark.createDataFrame(
            [(1, "u1", "2024-01-01 10:00:00"),
             (2, "u1", "2024-01-01 10:29:59"),
             (3, "u1", "2024-01-01 10:30:00"),   # exactly at w_end: excluded
             (4, "u1", "2024-01-01 09:59:59"),   # just before w_start
             (5, "u2", "2024-01-01 10:10:00"),   # other key, own window
             (6, "u3", "2024-01-01 10:10:00")],  # key with no window
            "id long, user string, ts_s string").withColumn(
                "ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
        wins = spark.createDataFrame(
            [(100, "u1", "2024-01-01 10:00:00", "2024-01-01 10:30:00"),
             (200, "u2", "2024-01-01 10:00:00", "2024-01-01 10:30:00")],
            "wid long, user string, s string, e string").select(
                "wid", "user",
                F.col("s").cast("timestamp").alias("w_start"),
                F.col("e").cast("timestamp").alias("w_end"))
        return facts, wins

    def test_end_exclusive_start_inclusive(self, spark):
        from log2seq_spark.operators.rangejoin import range_join
        facts, wins = self._frames(spark)
        got = {(r["id"], r["wid"])
               for r in range_join(facts, wins, on=["user"], fact_ts="ts",
                                   win_start="w_start", win_end="w_end",
                                   granule_sec=60).collect()}
        assert got == {(1, 100), (2, 100), (5, 200)}

    def test_granule_choice_is_semantics_free(self, spark):
        from log2seq_spark.operators.rangejoin import range_join
        facts, wins = self._frames(spark)
        for gran in (1, 7, 1800, 86400):
            got = {(r["id"], r["wid"])
                   for r in range_join(facts, wins, on=["user"],
                                       fact_ts="ts", win_start="w_start",
                                       win_end="w_end",
                                       granule_sec=gran).collect()}
            assert got == {(1, 100), (2, 100), (5, 200)}, gran

    def test_left_join_keeps_unmatched_facts(self, spark):
        from log2seq_spark.operators.rangejoin import range_join
        facts, wins = self._frames(spark)
        out = range_join(facts, wins, on=["user"], fact_ts="ts",
                         win_start="w_start", win_end="w_end",
                         granule_sec=60, how="left").collect()
        by_id = {r["id"]: r["wid"] for r in out}
        assert len(out) == 6
        assert by_id == {1: 100, 2: 100, 5: 200, 3: None, 4: None, 6: None}

    def test_is_equi_join_not_nested_loop(self, spark):
        from log2seq_spark.operators.rangejoin import range_join
        facts, wins = self._frames(spark)
        plan = range_join(
            facts, wins, on=["user"], fact_ts="ts", win_start="w_start",
            win_end="w_end")._jdf.queryExecution().executedPlan().toString()
        assert "NestedLoop" not in plan and "Cartesian" not in plan


class TestPlaneSignTable:
    def test_matches_md5_formula_and_oracle_sql(self):
        """The driver-side table must equal the md5 parity formula the
        DuckDB oracles compute in SQL (reference formula in
        hyperplane_signatures docstring)."""
        import duckdb
        from log2seq_spark.operators.dedup import plane_sign_table
        t = plane_sign_table(4, 8)
        sql = duckdb.sql(
            "SELECT j, d, CASE WHEN ('0x' || substr(md5(j || '#' || d), 1, 2))::INT % 2 = 1 "
            "THEN 1 ELSE -1 END FROM generate_series(0, 3) g(j), "
            "generate_series(0, 7) h(d)").fetchall()
        for j, d, s in sql:
            assert t[j][d] == s, (j, d)
        assert any(s == 1 for row in t for s in row)
        assert any(s == -1 for row in t for s in row)


class TestRelationalBreadth:
    """Plan-shape and semantic checks for the existence-join / bucketed /
    sketch query family (values are oracle-checked in test_entry_oracle)."""

    SF = "/root/testdata/sf0.001"

    def test_bucketed_join_has_no_exchange(self, spark):
        """The whole point of the bucketed layout: the sort-merge join
        consumes bucket-aligned scans, so the join subtree contains NO
        shuffle Exchange — the expensive part at scale. (A cheap
        in-partition Sort remains: since Spark 3 the scan only reports
        sortBy ordering under the legacy bucketedTableScan conf.)"""
        import __spark_entry__ as entrymod
        df = entrymod.q_bucketed_join_revenue(spark, self.SF)
        # the groupBy above the join legitimately shuffles; inspect only
        # the join subtree
        plan = df._jdf.queryExecution().executedPlan().toString()
        join_part = plan[plan.index("SortMergeJoin"):]
        assert "Exchange" not in join_part, plan
        assert "Bucketed: true" in join_part, plan
        assert "SelectedBucketsCount: 8 out of 8" in join_part, plan

    def test_anti_semi_join_plan_shapes(self, spark):
        import __spark_entry__ as entrymod
        anti = entrymod.q_anti_join_idle_customers(spark, self.SF)
        semi = entrymod.q_semi_join_ordered_brands(spark, self.SF)
        p_anti = anti._jdf.queryExecution().executedPlan().toString()
        p_semi = semi._jdf.queryExecution().executedPlan().toString()
        assert "LeftAnti" in p_anti, p_anti
        assert "LeftSemi" in p_semi, p_semi
        # the totalprice filter must sit below the anti join (pushed to
        # the build side), not above it
        assert "PushedFilters: [IsNotNull(o_totalprice)" in p_anti or \
               "300000" in p_anti.split("LeftAnti")[1], p_anti

    def test_hll_sketch_is_partitioning_invariant(self, spark):
        """approx_count_distinct must give the identical estimate no
        matter how the input is partitioned (register-max merge is
        commutative) — this is what makes the tolerance oracle stable."""
        from pyspark.sql import functions as F
        ev = spark.read.parquet(f"{self.SF}/events.parquet")
        est = lambda d: d.agg(
            F.approx_count_distinct("user_id", 0.02)).first()[0]
        assert est(ev) == est(ev.repartition(13)) == est(ev.coalesce(1))

    def test_running_window_is_cumulative(self, spark):
        import __spark_entry__ as entrymod
        rows = (entrymod.q_window_running_revenue(spark, self.SF)
                .filter("o_custkey = 1").orderBy("order_seq").collect())
        assert [r["order_seq"] for r in rows] == list(range(1, len(rows) + 1))
        run = 0.0
        for r in rows:
            assert r["running_spend"] >= run - 1e-9
            run = r["running_spend"]


class TestPacking:
    """Distributed prefix sum + contiguous-fill sequence packing
    (operators/packing.py)."""

    def _df(self, spark, n=500, seed=7):
        import random
        rng = random.Random(seed)
        rows = [(i * 3 + 1, rng.randint(1, 400)) for i in range(n)]
        rng.shuffle(rows)
        return spark.createDataFrame(rows, "doc_id long, n_tokens int")

    def test_empty_input_yields_empty_output(self, spark):
        # the empty-offsets fallback map must be TYPED: a bare
        # create_map() is map<void,void> and omap[_pid] failed analysis
        # whenever an upstream filter produced zero rows
        from log2seq_spark.operators.packing import (pack_sequences,
                                                     with_global_cumsum)
        empty = spark.createDataFrame([], "doc_id long, n_tokens int")
        assert with_global_cumsum(empty, "n_tokens", "doc_id").count() == 0
        assert pack_sequences(empty, "n_tokens", "doc_id").count() == 0

    def test_global_cumsum_matches_serial(self, spark):
        from log2seq_spark.operators.packing import with_global_cumsum
        df = self._df(spark)
        expect = {}
        acc = 0
        for did, nt in sorted((r["doc_id"], r["n_tokens"])
                              for r in df.collect()):
            acc += nt
            expect[did] = acc
        for nparts in (1, 3, 16):
            got = {r["doc_id"]: r["cumsum"]
                   for r in with_global_cumsum(df, "n_tokens", "doc_id",
                                               num_partitions=nparts).collect()}
            assert got == expect, f"num_partitions={nparts}"

    def test_chunks_are_contiguous_and_budgeted(self, spark):
        from log2seq_spark.operators.packing import pack_sequences
        budget = 1000
        rows = pack_sequences(self._df(spark), "n_tokens", "doc_id",
                              budget=budget).collect()
        rows.sort(key=lambda r: r["doc_id"])
        # chunk ids are non-decreasing in doc order and have no gaps
        ids = [r["chunk_id"] for r in rows]
        assert ids == sorted(ids)
        assert set(ids) == set(range(max(ids) + 1))
        # every doc starts in the chunk its preceding mass dictates
        acc = 0
        for r in rows:
            assert r["chunk_id"] == acc // budget, r
            acc += r["n_tokens"]

    def test_no_single_partition_sort_in_plan(self, spark):
        """The scalable property: no window runs over an empty
        partitionBy (which would serialize the whole table); every Sort
        in the executed plan is partition-local."""
        from log2seq_spark.operators.packing import pack_sequences
        df = pack_sequences(self._df(spark), "n_tokens", "doc_id")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Window [" in plan or "RunningWindowFunction" in plan or "Window" in plan
        # a global-order window plans as 'Exchange SinglePartition' —
        # forbidden here
        assert "SinglePartition" not in plan, plan


class TestContamination:
    def test_verbatim_eval_text_is_flagged(self, spark):
        from log2seq_spark.operators.dedup import contamination_report
        evalset = spark.createDataFrame(
            [(100, "the secret benchmark question about spark internals")],
            "doc_id long, text string")
        train = spark.createDataFrame(
            [(0, "the secret benchmark question about spark internals"),
             (1, "prefix words then the secret benchmark question about "
                 "spark internals and a long unrelated tail of extra "
                 "tokens follows here making overlap partial"),
             (2, "completely disjoint content with no shared trigrams at all")],
            "doc_id long, text string")
        out = {r["doc_id"]: r for r in
               contamination_report(train, evalset, threshold=0.5).collect()}
        assert out[0]["contaminated"] and out[0]["overlap_ratio"] == 1.0
        assert 1 in out and 0 < out[1]["overlap_ratio"] < 1.0
        assert 2 not in out  # no overlap → not reported

    def test_eval_side_is_broadcast(self, spark):
        from log2seq_spark.operators.dedup import contamination_report
        ev = spark.createDataFrame([(0, "tiny eval set")],
                                   "doc_id long, text string")
        tr = spark.createDataFrame([(i, f"doc {i} text body") for i in range(10)],
                                   "doc_id long, text string")
        plan = (contamination_report(tr, ev)
                ._jdf.queryExecution().executedPlan().toString())
        assert "BroadcastHashJoin" in plan, plan


class TestLogTextDataSource:
    """Distributed raw-log source (Python DataSource API): every file and
    every tar member is its own input partition."""

    def _fixture(self, tmpdir_path):
        import gzip
        import io
        import os
        import tarfile
        d = tmpdir_path
        with open(os.path.join(d, "a.log"), "w") as f:
            f.write("line a1\nline a2\n")
        with gzip.open(os.path.join(d, "b.log.gz"), "wt") as f:
            f.write("line b1\n")
        with tarfile.open(os.path.join(d, "c.tar.gz"), "w:gz") as tar:
            for name, body in [("one.log", b"line c1\nline c2\n"),
                               ("sub/two.log", b"line c3\n")]:
                info = tarfile.TarInfo(name)
                info.size = len(body)
                tar.addfile(info, io.BytesIO(body))
        return d

    def _lines(self, spark, **options):
        from log2seq_spark.sources import logfiles
        logfiles.register(spark)
        reader = spark.read.format("logtext")
        for k, v in options.items():
            reader = reader.option(k, v)
        return [r["text"] for r in reader.load().orderBy("line_no")
                .collect()]

    def test_decodes_like_text_mode_read(self, spark, tmpdir_path):
        # the stream is decoded, not each b"\n"-split piece: a UTF-16
        # file has NUL bytes around its newlines
        import os
        p = os.path.join(tmpdir_path, "u16.log")
        with open(p, "w", encoding="utf-16") as f:
            f.write("caf\xe9 first line\nsecond \u2603 line\n")
        with open(p, encoding="utf-16") as f:
            want = [line.rstrip("\n") for line in f]
        assert len(want) == 2
        assert self._lines(spark, path=p, encoding="utf-16") == want

    def test_universal_newlines(self, spark, tmpdir_path):
        # a lone "\r" ends a line, as in Hadoop's text reader
        import os
        p = os.path.join(tmpdir_path, "cr.log")
        with open(p, "wb") as f:
            f.write(b"a\rb\r\nc")
        assert self._lines(spark, path=p) == ["a", "b", "c"]

    def test_paths_option_reads_a_comma_in_a_name(self, spark,
                                                  tmpdir_path):
        # "paths" (a JSON list, what load([p1, p2]) passes) is not split
        # on commas; its order is the partition order
        import json
        import os
        a = os.path.join(tmpdir_path, "a,b.log")
        z = os.path.join(tmpdir_path, "z.log")
        for p, body in ((a, "from a,b\n"), (z, "from z\n")):
            with open(p, "w") as f:
                f.write(body)
        assert self._lines(spark, paths=json.dumps([a])) == ["from a,b"]
        df = spark.read.format("logtext").load([z, a])
        got = [r["text"] for r in df.select(
            F.spark_partition_id().alias("p"), "text").orderBy("p")
            .collect()]
        assert got == ["from z", "from a,b"]

    def test_tar_duplicate_member_names(self, spark, tmpdir_path):
        # tar -u / --append archives hold the SAME member name several
        # times; extractfile(name) resolves to the LAST occurrence, so
        # reading by name would emit the newest copy twice and silently
        # drop the earlier one — partitions must extract by position
        import io
        import os
        import tarfile
        from log2seq_spark.sources import logfiles
        t = os.path.join(tmpdir_path, "dup.tar")
        with tarfile.open(t, "w") as tar:
            for body in [b"old version\n", b"new version\nsecond line\n"]:
                info = tarfile.TarInfo("app.log")
                info.size = len(body)
                tar.addfile(info, io.BytesIO(body))
        logfiles.register(spark)
        df = spark.read.format("logtext").option("path", t).load()
        texts = sorted(r["text"] for r in df.collect())
        assert texts == ["new version", "old version", "second line"]

    def test_reads_files_gz_and_tar_members(self, spark, tmpdir_path):
        from log2seq_spark.sources import logfiles
        d = self._fixture(tmpdir_path)
        logfiles.register(spark)
        df = (spark.read.format("logtext")
              .option("path", f"{d}/a.log,{d}/b.log.gz,{d}/c.tar.gz").load())
        rows = {(r["member"], r["line_no"], r["text"]) for r in df.collect()}
        assert ("", 1, "line a1") in rows and ("", 2, "line a2") in rows
        assert ("", 1, "line b1") in rows
        assert ("one.log", 2, "line c2") in rows
        assert ("sub/two.log", 1, "line c3") in rows
        assert df.count() == 6

    def test_one_partition_per_member(self, spark, tmpdir_path):
        from log2seq_spark.sources import logfiles
        d = self._fixture(tmpdir_path)
        logfiles.register(spark)
        df = (spark.read.format("logtext")
              .option("path", f"{d}/a.log,{d}/b.log.gz,{d}/c.tar.gz").load())
        # a.log + b.log.gz + 2 tar members = 4 independent read partitions
        assert df.rdd.getNumPartitions() == 4

    def test_members_option_prunes_partitions(self, spark, tmpdir_path):
        """The stateless planning-time member selection (replacing the
        removed pushFilters pruning): unmatched members never become
        partitions, a no-match selection fails fast."""
        from log2seq_spark.sources import logfiles
        d = self._fixture(tmpdir_path)
        logfiles.register(spark)
        paths = f"{d}/a.log,{d}/b.log.gz,{d}/c.tar.gz"
        one = (spark.read.format("logtext").option("path", paths)
               .option("members", "one.log").load())
        assert one.rdd.getNumPartitions() == 1   # 3 of 4 pruned
        assert {r["text"] for r in one.collect()} == {"line c1", "line c2"}
        pre = (spark.read.format("logtext").option("path", paths)
               .option("members", "sub/*").load())
        assert pre.rdd.getNumPartitions() == 1
        assert [r["text"] for r in pre.collect()] == ["line c3"]
        import pytest as _pytest
        with _pytest.raises(Exception, match="no file or archive member"):
            (spark.read.format("logtext").option("path", paths)
             .option("members", "nope-*").load().collect())

    def test_relation_reuse_not_pruned_by_filters(self, spark, tmpdir_path):
        """Regression for the removed pushFilters pruning: Spark caches
        the planned Python-source scan per relation, so a filter pushed
        for one consumer pruned partitions for EVERY branch sharing the
        relation — a self-union lost rows, and df.count() after
        df.filter(...).count() returned the filtered count. With
        pushdown gone, filters are ordinary post-scan predicates."""
        from log2seq_spark.sources import logfiles
        d = self._fixture(tmpdir_path)
        logfiles.register(spark)
        df = (spark.read.format("logtext")
              .option("path", f"{d}/a.log,{d}/b.log.gz,{d}/c.tar.gz").load())
        total = df.count()
        filtered = df.filter("member = 'one.log'")
        assert filtered.count() == 2
        assert df.count() == total                 # unchanged after filter
        u = df.select("text").unionByName(filtered.select("text"))
        assert u.count() == total + 2

    def test_empty_tar_and_fail_fast_on_missing(self, spark, tmpdir_path):
        import os
        import tarfile
        from log2seq_spark.sources import logfiles
        logfiles.register(spark)
        et = os.path.join(tmpdir_path, "empty.tar")
        with tarfile.open(et, "w"):
            pass
        assert (spark.read.format("logtext").option("path", et)
                .load().count() == 0)
        import pytest as _pytest
        for bad in (os.path.join(tmpdir_path, "nope.log"),
                    os.path.join(tmpdir_path, "nomatch*.log")):
            with _pytest.raises(Exception, match="logtext: no"):
                (spark.read.format("logtext").option("path", bad)
                 .load().count())

    def test_parses_through_the_engine(self, spark, tmpdir_path):
        import os
        from log2seq_spark.sources import logfiles
        from log2seq_spark.functions.udf import with_parsed
        from log2seq_spark.rules.presets import default_program
        d = tmpdir_path
        with open(os.path.join(d, "sys.log"), "w") as f:
            f.write("Jan  1 12:34:56 host1 app[1]: INFO hi\n")
        logfiles.register(spark)
        df = (spark.read.format("logtext")
              .option("path", f"{d}/sys.log").load())
        # year-less syslog line: a default year is required now that a
        # matched-rule assembly failure fails the line (reference
        # header.py:73-114 semantics)
        parsed = with_parsed(df, default_program(), text_col="text",
                             default_year=2024)
        row = parsed.select("parsed.host", "parsed.words").first()
        assert row["host"] == "host1"
        assert row["words"] == ["app", "1", "INFO", "hi"]


class TestCleanCorpus:
    def test_full_recipe(self, spark):
        from log2seq_spark.operators.corpus import clean_corpus
        shared = "standard footer line"
        good = ("the quick brown fox jumps over the lazy dog and then "
                "the dog sleeps in the sun while the fox runs away")
        rows = [
            (0, good + "\n" + shared),                    # keeper of footer
            (1, good + "\n" + shared),                    # exact dup post-clean
            (2, shared),                                   # only the footer -> empty
            (3, "x@y.com " + good),                        # scrub, then keep
            (4, "zzzz qqqq wwww!!!! ####"),                # low quality
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r.asDict()
               for r in clean_corpus(docs).collect()}
        assert set(out) == {0, 1, 2, 3, 4}
        assert out[0]["kept"] and out[0]["drop_reason"] is None
        # every one of doc 1's lines is a cross-doc duplicate owned by
        # doc 0, so corpus line dedup empties it before exact dedup can
        # even see it — whole-doc dups collapse line-wise here
        assert out[1]["drop_reason"] == "empty"
        assert out[1]["clean_text"] == ""
        assert out[2]["drop_reason"] == "empty"
        assert out[3]["kept"] and "<email>" in out[3]["clean_text"]
        assert out[4]["drop_reason"] == "low_quality"

        # with line dedup off, the same corpus shows the exact_dup path
        # (doc 1 survives line removal and equals doc 0 post-scrub)
        out2 = {r["doc_id"]: r["drop_reason"]
                for r in clean_corpus(docs, do_line_dedup=False).collect()}
        assert out2[0] is None and out2[1] == "exact_dup"

    def test_stage_toggles(self, spark):
        from log2seq_spark.operators.corpus import clean_corpus
        docs = spark.createDataFrame(
            [(0, "mail me x@y.com please " * 5)],
            "doc_id long, text string")
        raw = clean_corpus(docs, do_scrub=False,
                           quality_min=None).collect()[0]
        assert "x@y.com" in raw["clean_text"] and raw["kept"]

    def test_whitespace_only_is_empty(self, spark):
        from log2seq_spark.operators.corpus import clean_corpus
        docs = spark.createDataFrame(
            [(0, "\n\n"), (1, "\t"), (2, None)],
            "doc_id long, text string")
        out = {r["doc_id"]: r["drop_reason"]
               for r in clean_corpus(docs).collect()}
        assert out == {0: "empty", 1: "empty", 2: "empty"}

    @pytest.mark.parametrize("seed", [5, 23])
    def test_clean_corpus_fuzz_matches_python_model(self, spark, seed):
        # randomized equivalence of the composite-identity recipe
        # (scrub/quality off to isolate identity + line + exact
        # semantics) against a pure-Python replay: null and repeated
        # ids, null texts, heavy cross-doc line reuse, multiplicity
        # preserved row-for-row
        import hashlib
        import random
        import re
        from log2seq_spark.operators.corpus import clean_corpus
        rng = random.Random(seed)
        pool = [f"ln {i}" for i in range(5)] + [""]
        ids = [0, 1, 2, None, 1]
        rows = []
        for _ in range(14):
            i = rng.choice(ids)
            t = (None if rng.random() < 0.1 else
                 "\n".join(rng.choice(pool)
                           for _ in range(rng.randint(0, 4))))
            rows.append((i, t))
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = sorted(
            ((r["doc_id"], r["clean_text"], r["kept"], r["drop_reason"])
             for r in clean_corpus(docs, do_scrub=False,
                                   quality_min=None).collect()),
            key=str)

        def h(t):
            return (hashlib.md5(t.encode()).hexdigest()
                    if t is not None else ":null:")

        def ident(i, t):
            return (i is None, i if i is not None else 0, h(t))

        idents = {ident(i, t): t for i, t in rows}
        owners = {}
        for k, t in idents.items():
            if t is None:
                continue
            for ln in set(t.split("\n")):
                if ln != "":
                    owners.setdefault(ln, set()).add(k)
        cleaned = {}
        for k, t in idents.items():
            if t is None:
                cleaned[k] = ""
                continue
            cleaned[k] = "\n".join(
                ln for ln in t.split("\n")
                if ln == "" or len(owners[ln]) == 1
                or min(owners[ln]) == k)
        groups = {}
        for k, c in cleaned.items():
            groups.setdefault(h(c), set()).add(k)
        exp = []
        for i, t in rows:
            k = ident(i, t)
            c = cleaned[k]
            if re.sub(r"\s", "", c) == "":
                reason = "empty"
            elif min(groups[h(c)]) != k:
                reason = "exact_dup"
            else:
                reason = None
            exp.append((i, c, reason is None, reason))
        assert got == sorted(exp, key=str), seed

    def test_repeated_id_payloads_stay_separate(self, spark):
        # identity is (id, content hash), not id alone: keyed by id, an
        # id repeated with different payloads would interleave both
        # docs' lines into one garbled row under line dedup
        from log2seq_spark.operators.corpus import clean_corpus
        docs = spark.createDataFrame(
            [("a", "alpha one\nbeta two"), ("a", "gamma three")],
            "doc_id string, text string")
        out = sorted(r["clean_text"] for r in clean_corpus(
            docs, do_scrub=False, quality_min=None).collect())
        assert out == ["alpha one\nbeta two", "gamma three"]

    def test_null_id_duplicates_flagged(self, spark):
        # a null-id row sharing content with a real-id row must be
        # exact_dup (plain id != keeper yields NULL -> never flags);
        # keeper election prefers the real id
        from log2seq_spark.operators.corpus import clean_corpus
        t = ("the quick brown fox jumps over the lazy dog and then "
             "the dog sleeps in the sun while the fox runs away")
        docs = spark.createDataFrame(
            [(None, t), (7, t)], "doc_id long, text string")
        out = {r["doc_id"]: r["drop_reason"] for r in clean_corpus(
            docs, do_line_dedup=False).collect()}
        assert out == {7: None, None: "exact_dup"}

    def test_null_id_doc_text_not_blanked(self, spark):
        # line dedup reassembles per identity; a null-id doc with
        # unique content must come back intact, not as ''
        from log2seq_spark.operators.corpus import clean_corpus
        docs = spark.createDataFrame(
            [(None, "unique content line\nsecond line")],
            "doc_id long, text string")
        row = clean_corpus(docs, do_scrub=False,
                           quality_min=None).collect()[0]
        assert row["clean_text"] == "unique content line\nsecond line"
        assert row["kept"]


class TestEpochStateUriPaths:
    """The epoch-state protocol behind a CLI consumer given a
    scheme-qualified state dir (the hdfs:// or s3a:// shape), exercised
    through file://."""

    def test_dedup_index_with_uri_dirs(self, spark, tmpdir_path, capsys):
        # `dedup --index-dir` lists its committed gen=N segments
        # through the Hadoop FileSystem API
        import os
        from log2seq_spark.__main__ import main
        local_ix = os.path.join(tmpdir_path, "uix")
        schema = "doc_id long, text string"
        got = []
        for n, rows in enumerate(([(0, "alpha"), (1, "beta"), (2, "alpha")],
                                  [(10, "alpha"), (11, "gamma")])):
            inp = os.path.join(tmpdir_path, f"uin{n}")
            out = os.path.join(tmpdir_path, f"uout{n}")
            spark.createDataFrame(rows, schema).write.parquet(inp)
            assert main(["dedup", "--mode", "exact", "--input", inp,
                         "--out", out,
                         "--index-dir", "file://" + local_ix]) == 0
            got += [(r["doc_id"], r["decision"])
                    for r in spark.read.parquet(out).collect()]
        capsys.readouterr()
        assert sorted(got) == [(0, "keep"), (1, "keep"), (2, "drop_batch"),
                               (10, "drop_seen"), (11, "keep")]
        assert sorted(os.listdir(os.path.join(local_ix, "delta"))) == \
            ["gen=1", "gen=2"]

    def test_epoch_params_guard_uri(self, spark, tmpdir_path):
        _check_params_guard(spark, "file://" + tmpdir_path, tmpdir_path)

    def test_prune_epochs_uri(self, spark, tmpdir_path):
        _check_prune(spark, "file://" + tmpdir_path, tmpdir_path)


class TestMultiline:
    """assemble_multiline: stack-trace collapse, orphan head, per-file
    isolation, order invariance under repartition, null lines."""

    def _df(self, spark, rows):
        return spark.createDataFrame(
            rows, "path string, member string, line_no long, text string")

    def test_stack_trace_collapse(self, spark):
        from log2seq_spark.operators.multiline import assemble_multiline
        rows = [("f", "", 1, "2024-01-01 00:00:01 ERROR job failed"),
                ("f", "", 2, "    at com.example.A(file.java:10)"),
                ("f", "", 3, "    at com.example.B(file.java:20)"),
                ("f", "", 4, "2024-01-01 00:00:02 INFO recovered"),
                ("f", "", 5, "2024-01-01 00:00:03 WARN slow"),
                ("f", "", 6, "    retry in 5s")]
        out = assemble_multiline(self._df(spark, rows), r"^\d{4}-")
        got = {r["line_no"]: r for r in out.collect()}
        assert set(got) == {1, 4, 5}
        assert got[1]["n_lines"] == 3 and got[1]["has_start"]
        assert got[1]["text"].splitlines() == [rows[0][3], rows[1][3],
                                               rows[2][3]]
        assert got[4]["n_lines"] == 1
        assert got[5]["n_lines"] == 2
        assert got[5]["text"].endswith("retry in 5s")

    def test_orphan_head_kept_and_flagged(self, spark):
        from log2seq_spark.operators.multiline import assemble_multiline
        rows = [("f", "", 1, "    orphan continuation"),
                ("f", "", 2, "    still orphan"),
                ("f", "", 3, "2024-01-01 00:00:01 INFO ok")]
        out = assemble_multiline(self._df(spark, rows), r"^\d{4}-")
        got = sorted(out.collect(), key=lambda r: r["line_no"])
        assert len(got) == 2
        assert got[0]["has_start"] is False and got[0]["n_lines"] == 2
        assert got[1]["has_start"] is True and got[1]["n_lines"] == 1

    def test_per_file_isolation_and_repartition_invariance(self, spark):
        from log2seq_spark.operators.multiline import assemble_multiline
        rows = []
        for f in ("a", "b"):
            rows += [(f, "m", 1, f"2024-01-01 00:00:01 start {f}"),
                     (f, "m", 2, f"    tail {f}")]
        df = self._df(spark, rows).repartition(16)   # scrambled layout
        out = assemble_multiline(df, r"^\d{4}-").collect()
        assert len(out) == 2
        for r in out:
            assert r["n_lines"] == 2
            assert r["text"] == (f"2024-01-01 00:00:01 start {r['path']}"
                                 f"\n    tail {r['path']}")

    def test_null_text_joins_as_empty_line(self, spark):
        from log2seq_spark.operators.multiline import assemble_multiline
        rows = [("f", "", 1, "2024-01-01 00:00:01 A"),
                ("f", "", 2, None),
                ("f", "", 3, "    b")]
        out = assemble_multiline(self._df(spark, rows), r"^\d{4}-").collect()
        assert len(out) == 1
        assert out[0]["text"].splitlines() == ["2024-01-01 00:00:01 A",
                                               "", "    b"]

    def test_internal_column_collision_raises(self, spark):
        from log2seq_spark.operators.multiline import assemble_multiline
        df = self._df(spark, [("f", "", 1, "x")]).withColumn(
            "__ml_rid", F.lit(1))
        with pytest.raises(ValueError, match="__ml_rid"):
            assemble_multiline(df, r"^\d{4}-")

    def test_feeds_header_cascade(self, spark):
        # the operator's purpose: a stack-trace body that would
        # quarantine as N parse failures rides inside its record
        from log2seq_spark.functions.udf import with_parsed
        from log2seq_spark.operators.multiline import assemble_multiline
        from log2seq_spark.rules.presets import default_program
        rows = [("f", "", 1, "Jan  1 12:34:56 host1 app[1]: ERROR boom"),
                ("f", "", 2, "  at com.example.A(file.java:10)"),
                ("f", "", 3, "Jan  1 12:34:57 host1 app[1]: INFO ok")]
        recs = assemble_multiline(self._df(spark, rows),
                                  r"^[A-Z][a-z]{2} ", sep=" | ")
        parsed = with_parsed(recs, default_program(), text_col="text",
                             default_year=2024)
        got = {r["line_no"]: r for r in
               parsed.select("line_no", "parsed.host",
                             "parsed.message").collect()}
        assert got[1]["host"] == "host1"
        assert got[1]["message"].endswith("at com.example.A(file.java:10)")
        assert got[3]["message"] == "app[1]: INFO ok"


class TestMultilineProperty:
    def test_matches_python_model_on_random_corpora(self, spark):
        # randomized equivalence vs a sequential per-file model — the
        # same discipline as the line/span dedup families
        import random
        import re
        from log2seq_spark.operators.multiline import assemble_multiline
        rng = random.Random(20260818)
        pat = re.compile(r"^\d{4}-")
        for trial in range(5):
            rows = []
            for f in range(rng.randrange(1, 6)):
                n = rng.randrange(1, 20)
                for i in range(1, n + 1):
                    if rng.random() < 0.35:
                        t = f"2024-01-0{rng.randrange(1, 9)} start {f}.{i}"
                    elif rng.random() < 0.1:
                        t = None
                    else:
                        t = f"  cont {f}.{i}"
                    rows.append((f"f{f}", "", i, t))
            # python model
            want = {}
            for path in sorted({r[0] for r in rows}):
                cur = None
                for _, _, ln, t in sorted(
                        (r for r in rows if r[0] == path),
                        key=lambda r: r[2]):
                    s = t or ""
                    if t is not None and pat.search(t):
                        cur = (path, ln)
                        want[cur] = [1, True, s]
                    elif cur is None:
                        cur = (path, ln)
                        want[cur] = [1, False, s]
                    else:
                        rec = want[cur]
                        rec[0] += 1
                        rec[2] += "\n" + s
            df = spark.createDataFrame(
                rows, "path string, member string, line_no long, "
                      "text string").repartition(8)
            got = {(r["path"], r["line_no"]):
                   (r["n_lines"], r["has_start"], r["text"])
                   for r in assemble_multiline(df, r"^\d{4}-").collect()}
            assert got == {k: tuple(v) for k, v in want.items()}, trial


