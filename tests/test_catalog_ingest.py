"""Catalog CRUD + cascade + end-to-end ingest (SURVEY.md §3.2)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


@pytest.fixture()
def catalog(spark, tmp_path):
    from vector_search_service_spark.catalog import Catalog

    return Catalog(spark, str(tmp_path / "store"))


DOCS = [
    (1, "# Title One\nThe quick brown fox jumps over the lazy dog. " * 40, "src0"),
    (2, "def main():\n    return 42  # code-ish content here", "src1"),
    (3, "", "src1"),                     # rejected: empty
    (4, "short text doc", "src2"),
]


def _raw(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string, source string")


def test_collection_crud(catalog):
    c = catalog.create_collection("alpha", "first", metadata={"k": "v"})
    assert c["id"] == 1 and c["embedding_dimension"] == 1024
    assert c["distance_function"] == "cosine"
    with pytest.raises(ValueError):
        catalog.create_collection("alpha")
    c2 = catalog.create_collection("beta")
    assert c2["id"] == 2
    assert [x["name"] for x in catalog.list_collections()] == ["alpha", "beta"]
    assert catalog.get_collection("nope") is None
    assert catalog.delete_collection("alpha") is True
    assert catalog.delete_collection("alpha") is False
    assert [x["name"] for x in catalog.list_collections()] == ["beta"]


def test_ingest_and_search_roundtrip(catalog, spark):
    from vector_search_service_spark.ingest import ingest_into
    from vector_search_service_spark.operators.search import fts_search

    catalog.create_collection("docs")
    res = ingest_into(catalog, "docs", _raw(spark), metadata_cols=("source",))
    assert res["documents_rejected"] == 1
    assert res["chunks_created"] >= 4  # doc 1 chunks into >1

    stored = catalog.documents("docs")
    assert stored.count() == res["chunks_created"]
    # chunk ids follow {doc_id}_chunk_{i}
    assert stored.filter(F.col("document_id").rlike("_chunk_\\d+$")).count() == stored.count()
    # metadata map carries chunk provenance + extracted fields
    row = stored.filter(F.col("doc_metadata.chunk_index") == "0").limit(1).collect()[0]
    assert row["doc_metadata"]["content_type"] in ("code", "markdown", "html", "text")
    # stored lexeme column supports search directly
    hits = fts_search(
        stored, "quick brown fox", text_col="content", id_col="document_id"
    )
    assert hits.count() >= 1

    # targeted delete (S6)
    victim = stored.limit(1).collect()[0]["document_id"]
    assert catalog.delete_documents("docs", [victim]) == 1
    assert catalog.documents("docs").filter(F.col("document_id") == victim).count() == 0

    stats = catalog.collection_stats("docs")
    assert stats["document_count"] == res["chunks_created"] - 1
    assert stats["size_bytes"] > 0


def test_cascade_delete(catalog, spark):
    from vector_search_service_spark.ingest import ingest_into

    catalog.create_collection("a")
    catalog.create_collection("b")
    ingest_into(catalog, "a", _raw(spark))
    ingest_into(catalog, "b", _raw(spark))
    n_b = catalog.documents("b").count()
    catalog.delete_collection("a")
    # b untouched, a gone (cascade)
    assert catalog.documents("b").count() == n_b
    with pytest.raises(ValueError):
        catalog.documents("a")


def test_metadata_in_doc_id(catalog, spark):
    from vector_search_service_spark.functions.text import doc_id_col

    df = spark.createDataFrame([("same text", "s1"), ("same text", "s2")], "text string, source string")
    ids = [
        r["id"] for r in df.select(
            doc_id_col(F.col("text"), {"source": F.col("source")}).alias("id")
        ).collect()
    ]
    assert ids[0] != ids[1]  # metadata participates in the hash
    assert all(len(i) == 16 for i in ids)


def test_catalog_versioned_swap_and_lock(spark, tmp_path):
    """VERDICT r1 #9: a live catalog exists at every instant (one
    catalog.json document swapped with os.replace) and a second writer
    fails loudly on the advisory lock instead of corrupting the swap."""
    import pytest

    from vector_search_service_spark.catalog import Catalog

    root = tmp_path / "swapstore"
    cat = Catalog(spark, str(root))
    cat.create_collection("a")
    cat.create_collection("b")
    assert {c["name"] for c in cat.list_collections()} == {"a", "b"}
    assert (root / "catalog.json").is_file()

    lock = root / "catalog.lock"
    lock.write_text("999999")
    with pytest.raises(RuntimeError, match="locked by another writer"):
        cat.create_collection("c")
    assert {c["name"] for c in cat.list_collections()} == {"a", "b"}
    lock.unlink()
    cat.create_collection("c")
    assert {c["name"] for c in cat.list_collections()} == {"a", "b", "c"}
    # one catalog document, no parquet collections table beside it
    assert [p.name for p in root.iterdir() if p.name.startswith("catalog")] \
        == ["catalog.json"]
    assert not [p for p in root.iterdir() if p.name.startswith("collections")]


def test_catalog_reads_launch_no_spark_jobs(catalog, spark):
    """Collection lookups, listings and the maintained stats are
    driver-side reads of catalog.json: no Spark job in their group.
    A refresh in a second group shows the check sees real jobs."""
    import uuid

    catalog.create_collection("nj")
    catalog.add_documents("nj", spark.createDataFrame(
        [(f"j{i}", f"content {i}", {}, None, None) for i in range(3)],
        "document_id string, content string, doc_metadata map<string,string>, "
        "content_lexemes array<string>, embedding array<float>",
    ))
    sc = spark.sparkContext

    def jobs_in_group(fn):
        group = f"catalog-read-{uuid.uuid4()}"
        sc.setJobGroup(group, "catalog read")
        try:
            fn()
        finally:
            sc.setJobGroup("", "")
        return sc.statusTracker().getJobIdsForGroup(group)

    def reads():
        assert catalog.get_collection("nj")["name"] == "nj"
        assert [c["name"] for c in catalog.list_collections()] == ["nj"]
        assert catalog.collection_stats("nj")["document_count"] == 3

    assert jobs_in_group(reads) == []
    assert jobs_in_group(lambda: catalog.collection_stats("nj", refresh=True))


def test_failed_catalog_save_keeps_previous_document(catalog, monkeypatch):
    """A write that fails at the os.replace inside _save leaves the
    previous catalog.json whole and readable, and releases the lock."""
    import json
    import os

    catalog.create_collection("keep")
    path = os.path.join(catalog.root, "catalog.json")
    with open(path) as f:
        before = f.read()

    def fail(src, dst):
        raise OSError("replace failed")

    monkeypatch.setattr(os, "replace", fail)
    with pytest.raises(OSError, match="replace failed"):
        catalog.create_collection("lost")
    monkeypatch.undo()

    with open(path) as f:
        assert f.read() == before
    assert list(json.loads(before)) == ["keep"]
    assert [c["name"] for c in catalog.list_collections()] == ["keep"]
    assert not os.path.exists(os.path.join(catalog.root, "catalog.lock"))
    catalog.create_collection("next")  # the writer is not wedged
    assert [c["name"] for c in catalog.list_collections()] == ["keep", "next"]


def test_catalog_concurrent_thread_creates(spark, tmp_path):
    """In-process mutations serialize on the catalog mutex: parallel
    creates from job threads all land, with unique ids."""
    import threading

    from vector_search_service_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "mtstore"))
    errs = []

    def mk(n):
        try:
            cat.create_collection(f"c{n}")
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=mk, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    colls = cat.list_collections()
    assert sorted(c["name"] for c in colls) == [f"c{i}" for i in range(4)]
    assert len({c["id"] for c in colls}) == 4


def test_maintained_postings_index(spark, tmp_path):
    """Auto-maintained GIN parity: every document mutation co-mutates
    the postings table, and the indexed search path returns exactly
    the scan path's results at every step."""
    from vector_search_service_spark.service import SearchService

    plain = SearchService(spark, str(tmp_path / "plain"))
    indexed = SearchService(spark, str(tmp_path / "indexed"), maintain_fts_index=True)

    docs = [
        ("spark shuffle exchange partition pruning " * 20, "a"),
        ("python arrow batch pandas vectorized " * 20, "b"),
        ("spark arrow interop columnar batches " * 20, "c"),
    ]
    for text, _ in docs:
        plain.ingest_document(text, collection_id="kb")
        indexed.ingest_document(text, collection_id="kb")

    def hits(svc, q):
        return [(r["document_id"], round(r["score"], 9))
                for r in svc.similarity_search(q, collection_id="kb")["results"]]

    for q in ("spark arrow", "shuffle", "pandas arrow batch", "absent zzz"):
        assert hits(indexed, q) == hits(plain, q)

    # postings exist and shrink with deletes
    coll_id = indexed.catalog.get_collection("kb")["id"]
    n0 = indexed.catalog.postings.postings(coll_id).count()
    assert n0 > 0
    victim = indexed.similarity_search("shuffle", collection_id="kb")["results"][0]
    del_ids = [r["id"] for r in indexed.list_documents("kb")
               if r["metadata"]["document_id"] == victim["metadata"]["document_id"]]
    indexed.delete_documents("kb", del_ids)
    plain_victim = plain.similarity_search("shuffle", collection_id="kb")["results"][0]
    plain.delete_documents("kb", [
        r["id"] for r in plain.list_documents("kb")
        if r["metadata"]["document_id"] == plain_victim["metadata"]["document_id"]
    ])
    assert indexed.catalog.postings.postings(coll_id).count() < n0
    for q in ("spark arrow", "shuffle"):
        assert hits(indexed, q) == hits(plain, q)

    # cascade delete drops the postings partition
    indexed.delete_collection("kb", force=True)
    assert indexed.catalog.postings.postings(coll_id) is None


def test_per_collection_embedding_dimension_enforced(catalog, spark):
    """embedding_dimension is per-collection metadata
    (src/db/models.py:19): two collections with different dims coexist,
    each append is validated against ITS collection's dim (pgvector's
    typed vector(dim) column analogue), NULL embeddings pass, and a
    wrong-width batch fails whole."""
    catalog.create_collection("small", embedding_dimension=4)
    catalog.create_collection("large", embedding_dimension=8)

    def rows(doc_id, emb):
        return spark.createDataFrame(
            [(doc_id, "text", {}, None, emb)],
            "document_id string, content string, "
            "doc_metadata map<string,string>, "
            "content_lexemes array<string>, embedding array<float>",
        )

    assert catalog.add_documents("small", rows("a", [1.0, 0.0, 0.0, 0.0])) == 1
    assert catalog.add_documents("large", rows("b", [0.5] * 8)) == 1
    assert catalog.add_documents("small", rows("c", None)) == 1  # NULL ok
    with pytest.raises(ValueError, match="expects 4-dim"):
        catalog.add_documents("small", rows("d", [1.0, 2.0]))
    with pytest.raises(ValueError, match="expects 8-dim"):
        catalog.add_documents("large", rows("e", [1.0, 2.0, 3.0, 4.0]))
    # the failed batches wrote nothing
    assert catalog.documents("small").count() == 2
    assert catalog.documents("large").count() == 1


def test_collection_stats_maintained_o1(catalog, spark, monkeypatch):
    """Stats are co-maintained on every write path (the PostingsStore
    discipline) so collection_stats is an O(1) metadata read — the
    reference's pg_total_relation_size semantics (reads pg_class,
    never scans the relation). Verified by making the scan path
    explode: after mutations, the stats read must not touch
    documents()."""
    from vector_search_service_spark.catalog import Catalog

    catalog.create_collection("st")

    def rows(ids):
        return spark.createDataFrame(
            [(f"d{i}", f"content {i}", {}, None, None) for i in ids],
            "document_id string, content string, "
            "doc_metadata map<string,string>, "
            "content_lexemes array<string>, embedding array<float>",
        )

    catalog.add_documents("st", rows(range(5)))
    catalog.add_documents("st", rows(range(5, 8)))
    catalog.delete_documents("st", ["d0", "d6"])
    catalog.upsert_documents("st", rows([7, 8]))   # 1 update + 1 insert
    catalog.compact_collection("st", target_files=1)

    # ground truth once, from the data
    truth = catalog.documents("st").count()
    assert truth == 7  # 5 + 3 - 2 + 1

    # now the O(1) claim: stats must not run a Spark count
    def boom(self, name=None):
        raise AssertionError("collection_stats scanned the documents table")

    monkeypatch.setattr(Catalog, "documents", boom)
    st = catalog.collection_stats("st")
    assert st["document_count"] == truth
    assert st["size_bytes"] > 0
    monkeypatch.undo()

    # cascade removes the stats with the collection's catalog entry
    catalog.delete_collection("st")
    import json
    import os
    with open(os.path.join(catalog.root, "catalog.json")) as f:
        assert "st" not in json.load(f)


def test_stats_survive_interleaved_threaded_mutations(catalog, spark):
    """r9 advisor (medium): _store_stats is a read-modify-write — two
    concurrent add_documents through one shared Catalog must not lose
    an update. Interleave adds from worker threads (the service's async
    batch-job shape) and require the maintained count to equal ground
    truth exactly."""
    import threading

    catalog.create_collection("tt")

    def rows(lo, hi):
        return spark.createDataFrame(
            [(f"t{i}", f"content {i}", {}, None, None) for i in range(lo, hi)],
            "document_id string, content string, "
            "doc_metadata map<string,string>, "
            "content_lexemes array<string>, embedding array<float>",
        )

    errs = []

    def add(lo, hi):
        try:
            catalog.add_documents("tt", rows(lo, hi))
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    threads = [threading.Thread(target=add, args=(i * 10, i * 10 + 10))
               for i in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    truth = catalog.documents("tt").count()
    assert truth == 60
    assert catalog.collection_stats("tt")["document_count"] == 60


def test_collection_stats_refresh_heals_stale_file(catalog, spark):
    """r9 advisor: a crash between the parquet write and the stats bump
    leaves the maintained count stale forever (the O(1) read trusts the
    file). collection_stats(refresh=True) recounts from the store and
    rewrites the row."""
    import json
    import os

    catalog.create_collection("rf")
    catalog.add_documents("rf", spark.createDataFrame(
        [(f"r{i}", f"content {i}", {}, None, None) for i in range(4)],
        "document_id string, content string, doc_metadata map<string,string>, "
        "content_lexemes array<string>, embedding array<float>",
    ))
    # simulate the crash: corrupt the maintained count in catalog.json
    path = os.path.join(catalog.root, "catalog.json")
    with open(path) as f:
        doc = json.load(f)
    doc["rf"].update(document_count=999, size_bytes=1)
    with open(path, "w") as f:
        json.dump(doc, f)
    assert catalog.collection_stats("rf")["document_count"] == 999  # trusts file
    healed = catalog.collection_stats("rf", refresh=True)
    assert healed["document_count"] == 4
    assert healed["size_bytes"] > 1
    # and the heal is persistent: the next O(1) read sees the fix
    assert catalog.collection_stats("rf")["document_count"] == 4


def test_add_documents_evaluates_nondeterministic_input_once(catalog, spark):
    """r9 advisor (low): the batch is materialized before validation,
    so a non-deterministic input cannot pass the dimension check on one
    evaluation and write different rows on the next. A 50% sample is
    re-drawn on every evaluation; after ingest, the stats count, the
    stored rows and the postings all describe the SAME draw."""
    catalog.create_collection("nd", embedding_dimension=4)
    base = spark.createDataFrame(
        [(f"n{i}", f"content {i}", {}, None, [float(i)] * 4) for i in range(200)],
        "document_id string, content string, doc_metadata map<string,string>, "
        "content_lexemes array<string>, embedding array<float>",
    )
    flaky = base.sample(0.5, seed=None)  # re-drawn per evaluation
    n = catalog.add_documents("nd", flaky)
    stored = catalog.documents("nd").count()
    assert stored == n  # validated count == written count, same draw
    assert catalog.collection_stats("nd")["document_count"] == stored


def _counting_udf(spark):
    """An identity string UDF that adds 1 to an accumulator per row it
    evaluates: wrapping an input column with it counts how often Spark
    evaluates the input."""
    acc = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def counted(s):
        acc.add(1)
        return s

    return counted, acc


def test_ingest_into_evaluates_input_and_chunker_once(spark, tmp_path):
    """ingest_into materializes one document-level staged frame: the
    append and every per-document outcome read it, so each input row,
    valid or rejected, is evaluated exactly once."""
    import hashlib

    from vector_search_service_spark.catalog import Catalog
    from vector_search_service_spark.ingest import ingest_into
    from vector_search_service_spark.operators.chunker import chunk_text

    cat = Catalog(spark, str(tmp_path / "store"), maintain_fts_index=True)
    cat.create_collection("once")
    texts = [f"evaluated once document {i} " * (5 + 40 * (i % 3)) for i in range(20)]
    texts.append("   ")  # whitespace only: rejected by validation
    counted, acc = _counting_udf(spark)
    raw = spark.createDataFrame(list(enumerate(texts)), "_idx int, text string")
    res = ingest_into(cat, "once", raw.withColumn("text", counted("text")),
                      idx_col="_idx")
    assert acc.value == 21

    want = [
        {"idx": i, "document_id": hashlib.sha256(t.encode()).hexdigest()[:16],
         "chunks_created": len(chunk_text(t.strip())), "error": None}
        for i, t in enumerate(texts[:20])
    ]
    want.append({"idx": 20, "document_id": None, "chunks_created": 0,
                 "error": "Document content cannot be empty"})
    assert res["documents"] == want
    assert max(d["chunks_created"] for d in want) > 1
    assert res["documents_rejected"] == 1
    assert res["chunks_created"] == sum(d["chunks_created"] for d in want)
    assert cat.documents("once").count() == res["chunks_created"]


def test_upsert_documents_evaluates_input_once(catalog, spark):
    """upsert_documents materializes its input once: the incoming
    count, the key set and the partition rewrite read the same rows."""
    catalog.create_collection("up")
    schema = ("document_id string, content string, "
              "doc_metadata map<string,string>, "
              "content_lexemes array<string>, embedding array<float>")
    catalog.add_documents("up", spark.createDataFrame(
        [(f"u{i}", f"content {i}", {}, None, None) for i in range(5)], schema))
    counted, acc = _counting_udf(spark)
    incoming = spark.createDataFrame(
        [(f"u{i}", f"new content {i}", {}, None, None) for i in range(3, 8)], schema,
    ).withColumn("document_id", counted("document_id"))
    assert catalog.upsert_documents("up", incoming) == {"inserted": 3, "updated": 2}
    assert acc.value == 5
    stored = {r["document_id"]: r["content"] for r in catalog.documents("up").collect()}
    assert stored == {**{f"u{i}": f"content {i}" for i in range(3)},
                      **{f"u{i}": f"new content {i}" for i in range(3, 8)}}


def test_compact_collection_holds_catalog_mutex(catalog, spark, monkeypatch):
    """compact_collection reads the partition and overwrites it: an
    append between the two would be replaced, so the overwrite runs
    under the catalog mutex like delete and upsert."""
    from vector_search_service_spark.catalog import Catalog

    catalog.create_collection("cm")
    for lo in (0, 3):
        catalog.add_documents("cm", spark.createDataFrame(
            [(f"c{i}", f"content {i}", {}, None, None) for i in range(lo, lo + 3)],
            "document_id string, content string, doc_metadata map<string,string>, "
            "content_lexemes array<string>, embedding array<float>",
        ))
    orig = Catalog._replace_partition
    held = []

    def checked(self, *args):
        held.append(self._mutex._is_owned())
        return orig(self, *args)

    monkeypatch.setattr(Catalog, "_replace_partition", checked)
    out = catalog.compact_collection("cm", target_files=1)
    assert held == [True]
    assert out["files_after"] == 1
    assert catalog.documents("cm").count() == 6


def test_delete_null_id_matches_no_row(catalog, spark):
    """SQL IN semantics: ``document_id IN ('d0', NULL)`` is TRUE for
    d0 and NULL, not TRUE, for every other row, so only d0 is deleted.
    A bare ``~isin`` filter would drop every row."""
    catalog.create_collection("nul")
    catalog.add_documents("nul", spark.createDataFrame(
        [(f"d{i}", f"content {i}", {}, None, None) for i in range(5)],
        "document_id string, content string, doc_metadata map<string,string>, "
        "content_lexemes array<string>, embedding array<float>",
    ))
    assert catalog.delete_documents("nul", ["d0", None]) == 1
    assert sorted(r["document_id"] for r in catalog.documents("nul").collect()) \
        == ["d1", "d2", "d3", "d4"]
    assert catalog.collection_stats("nul")["document_count"] == 4
    assert catalog.delete_documents("nul", [None]) == 0
    assert catalog.documents("nul").count() == 4


def test_readers_stay_live_during_mutations(catalog, spark):
    """r10 verdict next-round #6: the catalog.json swap promises a
    LIVE catalog at every instant, and document readers must not
    serialize behind the mutation mutex. Two pins in one interleave:

    (a) while a mutator loops create_collection (each one a
        catalog.json rewrite + os.replace), catalog readers must never
        observe a missing/partial catalog — every read succeeds and
        always sees the seed collection;
    (b) while a long upsert rewrites collection A's partition, readers
        of the catalog AND of collection B's documents (untouched by
        the dynamic overwrite) keep making progress — reads COMPLETE
        strictly inside the mutation window, proving they don't queue
        on the catalog mutex the mutation holds.
    """
    import threading
    import time

    def rows(lo, hi):
        return spark.createDataFrame(
            [(f"d{i}", f"content {i}", {}, None, None) for i in range(lo, hi)],
            "document_id string, content string, "
            "doc_metadata map<string,string>, "
            "content_lexemes array<string>, embedding array<float>",
        )

    catalog.create_collection("seed")
    catalog.create_collection("bee")
    catalog.add_documents("seed", rows(0, 120))
    catalog.add_documents("bee", rows(0, 30))

    stop = threading.Event()
    errs: list[Exception] = []
    read_windows: list[tuple[float, float]] = []

    def reader():
        while not stop.is_set():
            t0 = time.monotonic()
            try:
                assert catalog.get_collection("seed") is not None
                names = {c["name"] for c in catalog.list_collections()}
                assert {"seed", "bee"} <= names
                assert catalog.documents("bee").count() == 30
            except Exception as e:  # pragma: no cover - failure reporting
                errs.append(e)
                return
            read_windows.append((t0, time.monotonic()))

    readers = [threading.Thread(target=reader) for _ in range(2)]
    for t in readers:
        t.start()
    try:
        # (a) catalog.json swaps under live readers
        for i in range(5):
            catalog.create_collection(f"flip{i}")
        # (b) one long document mutation (holds the catalog mutex)
        m0 = time.monotonic()
        catalog.upsert_documents("seed", rows(100, 150))
        m1 = time.monotonic()
    finally:
        stop.set()
        for t in readers:
            t.join()

    assert not errs
    # liveness floor: at least one full read completed strictly inside
    # the mutation window — readers were never queued behind the mutex
    inside = [w for w in read_windows if w[0] >= m0 and w[1] <= m1]
    assert inside, (
        f"no reader completed inside the {m1 - m0:.1f}s mutation window "
        f"({len(read_windows)} total reads)"
    )
    # the upsert itself is correct under the concurrent read load
    assert catalog.documents("seed").count() == 150


def test_postings_compact_preserves_matches_and_shrinks_files(spark, tmp_path):
    """PostingsStore.compact (the autovacuum / GIN pending-list-merge
    analog): after a mutation history of one-file-per-batch appends,
    compaction must rebuild the partition into fewer files with the
    EXACT same posting multiset — matched_ids identical for every
    query shape, including post-compaction appends."""
    import os

    from vector_search_service_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "store"), maintain_fts_index=True)
    cat.create_collection("kb")

    def rows(lo, hi, words):
        return spark.createDataFrame(
            [(f"d{i}", words, {}, words.split(), None) for i in range(lo, hi)],
            "document_id string, content string, "
            "doc_metadata map<string,string>, "
            "content_lexemes array<string>, embedding array<float>",
        )

    for b in range(8):  # 8 append batches -> 8+ posting files
        cat.add_documents("kb", rows(b * 5, b * 5 + 5, f"spark shuffl batch{b}"))

    coll_id = cat.get_collection("kb")["id"]

    def files():
        live = cat.postings.live_dir(coll_id)
        return [f for f in os.listdir(live) if f.endswith(".parquet")]

    def matches(terms):
        m = cat.postings.matched_ids(coll_id, terms)
        return sorted(r["document_id"] for r in m.collect())

    before_files = files()
    assert len(before_files) >= 8
    pins = {
        t: matches(list(t))
        for t in (("spark",), ("spark", "batch3"), ("batch0", "shuffl"), ("absent",))
    }
    n_rows = cat.postings.postings(coll_id).count()

    compacted = cat.compact_index("kb")
    assert compacted == n_rows
    assert len(files()) == 1  # 40 docs' postings fit one size-targeted file
    assert cat.postings.postings(coll_id).count() == n_rows
    for t, expect in pins.items():
        assert matches(list(t)) == expect, t

    # the store stays appendable after compaction
    cat.add_documents("kb", rows(100, 105, "spark postcompact"))
    assert matches(["postcompact"]) == [f"d{i}" for i in range(100, 105)]

    # no-op paths: unindexed catalog and index-less collection
    plain = Catalog(spark, str(tmp_path / "plain"))
    plain.create_collection("kb")
    assert plain.compact_index("kb") == 0
    cat.create_collection("empty")
    assert cat.compact_index("empty") == 0


# ---------------------------------------------------------------------------
# r12: postings-store crash atomicity + snapshot liveness (VERDICT r11
# What's-wrong #1 / next-round #1). The store now uses the catalog's
# versioned-pointer discipline: rewrite/compact write v{n+1}, then flip
# a pointer file atomically; the superseded snapshot survives one
# further mutation for in-flight readers.
# ---------------------------------------------------------------------------


def _kb_rows(spark, lo, hi, words):
    return spark.createDataFrame(
        [(f"d{i}", words, {}, words.split(), None) for i in range(lo, hi)],
        "document_id string, content string, "
        "doc_metadata map<string,string>, "
        "content_lexemes array<string>, embedding array<float>",
    )


@pytest.fixture()
def indexed_cat(spark, tmp_path):
    from vector_search_service_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "store"), maintain_fts_index=True)
    cat.create_collection("kb")
    for b in range(6):
        cat.add_documents("kb", _kb_rows(spark, b * 5, b * 5 + 5,
                                         f"spark shuffl batch{b}"))
    return cat


def _matches(cat, coll_id, terms):
    m = cat.postings.matched_ids(coll_id, terms)
    return sorted(r["document_id"] for r in m.collect())


def test_postings_crash_mid_compact_leaves_complete_snapshot(
        indexed_cat, spark, monkeypatch):
    """A crash at ANY instant of compact() must leave a complete,
    resolvable index — old before the pointer flip, new after. The
    old design (rmtree, then append) could leave a partial partition
    that spark.read happily reads, silently dropping matches."""
    import os

    cat = indexed_cat
    coll_id = cat.get_collection("kb")["id"]
    pins = {t: _matches(cat, coll_id, list(t))
            for t in (("spark",), ("spark", "batch3"), ("absent",))}
    n_rows = cat.postings.postings(coll_id).count()
    live_before = cat.postings.live_dir(coll_id)

    # crash point (a): mid-snapshot-write — simulate by a partial
    # next-version dir (garbage file); the pointer never flipped, so
    # readers resolve the old, complete snapshot
    cur = cat.postings._current_version(coll_id)
    nxt = cat.postings._next_version(cur)
    partial = os.path.join(cat.postings._coll_dir(coll_id), nxt)
    os.makedirs(partial, exist_ok=True)
    with open(os.path.join(partial, "part-00000-torn.parquet"), "wb") as f:
        f.write(b"\x00not parquet")
    assert cat.postings.live_dir(coll_id) == live_before
    for t, expect in pins.items():
        assert _matches(cat, coll_id, list(t)) == expect, t

    # crash point (b): snapshot fully written, crash BEFORE the flip
    def boom(*a, **k):
        raise RuntimeError("simulated crash before pointer flip")

    monkeypatch.setattr(cat.postings, "_flip", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        cat.compact_index("kb")
    monkeypatch.undo()
    # pointer untouched -> the OLD snapshot is live and complete
    assert cat.postings.live_dir(coll_id) == live_before
    assert cat.postings.postings(coll_id).count() == n_rows
    for t, expect in pins.items():
        assert _matches(cat, coll_id, list(t)) == expect, t

    # crash point (c): flip done, crash BEFORE prune — the NEW
    # snapshot is live and complete; superseded dirs are garbage, not
    # corruption (the next mutation prunes them)
    monkeypatch.setattr(cat.postings, "_prune", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        cat.compact_index("kb")
    monkeypatch.undo()
    assert cat.postings.live_dir(coll_id) != live_before
    assert cat.postings.postings(coll_id).count() == n_rows
    for t, expect in pins.items():
        assert _matches(cat, coll_id, list(t)) == expect, t

    # recovery: a subsequent clean compact overwrites any partial
    # next-version leftovers and prunes history down to grace
    assert cat.compact_index("kb") == n_rows
    for t, expect in pins.items():
        assert _matches(cat, coll_id, list(t)) == expect, t


def test_compact_collection_rebuilds_maintained_postings(indexed_cat):
    """compact_collection goes through the same partition replace as
    delete and upsert, so on a maintained catalog it also rebuilds the
    postings snapshot: the matches stay the same and the snapshot
    version advances."""
    cat = indexed_cat
    coll_id = cat.get_collection("kb")["id"]
    terms = (("spark",), ("spark", "batch3"), ("absent",))
    before = {t: _matches(cat, coll_id, list(t)) for t in terms}
    version = cat.postings._current_version(coll_id)
    out = cat.compact_collection("kb", target_files=1)
    assert out["files_after"] == 1
    assert {t: _matches(cat, coll_id, list(t)) for t in terms} == before
    assert int(cat.postings._current_version(coll_id)[1:]) > int(version[1:])
    assert cat.collection_stats("kb")["document_count"] == 30


def test_postings_crash_mid_rewrite_keeps_old_index_live(
        indexed_cat, spark, monkeypatch):
    """Delete-path rewrite crash: documents already rewritten, postings
    flip fails. The OLD postings snapshot stays live (complete, merely
    stale) — and staleness is SAFE because matched ids are semi-joined
    back to the live documents table, so deleted ids drop out of every
    search result."""
    cat = indexed_cat
    coll_id = cat.get_collection("kb")["id"]
    n_rows = cat.postings.postings(coll_id).count()

    def boom(*a, **k):
        raise RuntimeError("simulated crash before pointer flip")

    monkeypatch.setattr(cat.postings, "_flip", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        cat.delete_documents("kb", ["d0", "d1", "d2"])
    monkeypatch.undo()

    # old snapshot complete (stale: still carries the deleted ids)
    assert cat.postings.postings(coll_id).count() == n_rows
    stale = _matches(cat, coll_id, ["batch0"])
    assert stale == ["d0", "d1", "d2", "d3", "d4"]
    # ...but the service-path semi-join against live documents is exact
    docs = cat.documents("kb")
    matched = cat.postings.matched_ids(coll_id, ["batch0"])
    live = sorted(r["document_id"]
                  for r in docs.join(matched, "document_id", "left_semi")
                               .select("document_id").collect())
    assert live == ["d3", "d4"]
    # the next successful mutation heals the index
    cat.delete_documents("kb", ["d5"])
    assert _matches(cat, coll_id, ["batch0"]) == ["d3", "d4"]


def test_probe_during_compact_stays_live_and_exact(indexed_cat, spark):
    """Lock-free probes must keep completing — with EXACT results —
    while compactions rewrite the index underneath them (the r11
    verdict's probe-during-compact liveness pin; extends
    test_readers_stay_live_during_mutations to the postings store)."""
    import threading
    import time

    cat = indexed_cat
    coll_id = cat.get_collection("kb")["id"]
    expect = _matches(cat, coll_id, ["spark", "batch2"])
    assert expect  # non-vacuous probe

    stop = threading.Event()
    errs: list[Exception] = []
    probe_windows: list[tuple[float, float]] = []

    def prober():
        while not stop.is_set():
            t0 = time.monotonic()
            try:
                assert _matches(cat, coll_id, ["spark", "batch2"]) == expect
            except Exception as e:  # pragma: no cover - failure reporting
                errs.append(e)
                return
            probe_windows.append((t0, time.monotonic()))

    windows = []

    def inside():
        return [p for p in list(probe_windows)
                if any(p[0] >= w0 and p[1] <= w1 for w0, w1 in windows)]

    probers = [threading.Thread(target=prober) for _ in range(2)]
    for t in probers:
        t.start()
    try:
        # repeated flips exercise the prune grace. A compaction and a
        # probe take about as long (~0.3 s each on 4 cores), so past
        # the third flip keep flipping, up to 12, until some probe has
        # run wholly inside a compaction window
        while len(windows) < 3 or (not inside() and len(windows) < 12):
            m0 = time.monotonic()
            cat.compact_index("kb")
            windows.append((m0, time.monotonic()))
    finally:
        stop.set()
        for t in probers:
            t.join()

    assert not errs
    assert inside(), (
        f"no probe completed inside any of {len(windows)} compaction "
        f"windows ({len(probe_windows)} probes total)"
    )


def test_postings_auto_compaction_bounds_file_count(spark, tmp_path):
    """r11 verdict next-round #4 — the autovacuum cadence: a long
    small-batch mutation history must keep a bounded live file count
    with NO manual compact_index call, and every probe stays exact."""
    from vector_search_service_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "store"), maintain_fts_index=True)
    cat.postings.AUTO_COMPACT_SMALL_FILES = 8  # test-scale trigger
    cat.create_collection("kb")

    def live_files():
        d = cat.postings.live_dir(cat.get_collection("kb")["id"])
        import os
        return len([f for f in os.listdir(d) if f.endswith(".parquet")])

    peaks = []
    for b in range(20):  # 20 one-file appends vs threshold 8
        cat.add_documents("kb", _kb_rows(spark, b * 5, b * 5 + 5,
                                         f"spark shuffl batch{b}"))
        peaks.append(live_files())
    # bounded: never reaches 2x the trigger (compaction coalesces the
    # tiny corpus to 1 file, so the count saws between 1 and ~8)
    assert max(peaks) <= 2 * cat.postings.AUTO_COMPACT_SMALL_FILES
    assert peaks[-1] < 20  # compaction actually fired
    coll_id = cat.get_collection("kb")["id"]
    assert _matches(cat, coll_id, ["spark"]) == sorted(
        f"d{i}" for i in range(100))
    assert _matches(cat, coll_id, ["batch7"]) == sorted(
        f"d{i}" for i in range(35, 40))


def test_postings_snapshot_grace_for_inflight_readers(indexed_cat):
    """A DataFrame that resolved the pointer just before a flip must
    still complete: the superseded snapshot survives exactly one
    further mutation (the snapshot ``keep`` grace)."""
    import os

    cat = indexed_cat
    coll_id = cat.get_collection("kb")["id"]
    held = cat.postings.postings(coll_id)  # binds to the pre-flip dir
    n = held.count()
    old_dir = cat.postings.live_dir(coll_id)
    cat.compact_index("kb")
    # one mutation later: old snapshot retained, held frame still reads
    assert os.path.isdir(old_dir)
    assert held.count() == n
    cat.compact_index("kb")
    # two mutations later: the old snapshot is pruned
    assert not os.path.isdir(old_dir)


def test_postings_incremental_compact_links_full_files(spark, tmp_path):
    """compact_incremental is the pending-list merge: only small
    (per-batch) files are read+merged; full files are HARDLINKED into
    the new snapshot (same inode — zero data movement), so the auto
    trigger's cost is O(pending rows), never O(collection)."""
    import os

    from vector_search_service_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "store"), maintain_fts_index=True)
    cat.create_collection("kb")
    # base corpus (one bigger file after a full compact)
    cat.add_documents("kb", _kb_rows(
        spark, 0, 40, "spark shuffle exchange partition base " * 4))
    coll_id = cat.get_collection("kb")["id"]
    assert cat.compact_index("kb") > 0  # full compact -> 1 file
    live = cat.postings.live_dir(coll_id)
    [big] = [f for f in os.listdir(live) if f.endswith(".parquet")]
    big_size = os.path.getsize(os.path.join(live, big))
    big_ino = os.stat(os.path.join(live, big)).st_ino

    # pending list: small append batches (strictly smaller files)
    for b in range(4):
        cat.add_documents("kb", _kb_rows(spark, 100 + b * 2, 102 + b * 2,
                                         f"tiny batch{b}"))
    live = cat.postings.live_dir(coll_id)
    sizes = {f: os.path.getsize(os.path.join(live, f))
             for f in os.listdir(live) if f.endswith(".parquet")}
    assert all(s < big_size for f, s in sizes.items() if f != big)
    pins = {t: _matches(cat, coll_id, list(t))
            for t in (("spark", "base"), ("batch2",), ("tiny",))}
    n_rows = cat.postings.postings(coll_id).count()
    # exact pending-row count: the small files' rows
    small_rows = (
        spark.read.schema("document_id string, lexeme string")
        .parquet(*[os.path.join(live, f) for f in sizes if f != big])
        .count()
    )

    # merge with the threshold set between batch-file and big-file size
    merged = cat.postings.compact_incremental(coll_id, small_bytes=big_size)
    assert merged == small_rows
    new_live = cat.postings.live_dir(coll_id)
    assert new_live != live
    new_files = [f for f in os.listdir(new_live) if f.endswith(".parquet")]
    # the big file was linked, not copied: same name, same inode
    assert big in new_files
    assert os.stat(os.path.join(new_live, big)).st_ino == big_ino
    # pending files merged down; total rows and every probe exact
    assert len(new_files) < len(sizes)
    assert cat.postings.postings(coll_id).count() == n_rows
    for t, expect in pins.items():
        assert _matches(cat, coll_id, list(t)) == expect, t
    # nothing pending -> no-op
    assert cat.postings.compact_incremental(coll_id, small_bytes=big_size) in (0,)
