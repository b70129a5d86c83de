"""Service facade — the reference's API behavioral contracts
(SURVEY.md §3.1-3.3) driven end-to-end through the library surface."""

from __future__ import annotations

import pytest


@pytest.fixture()
def svc(spark, tmp_path):
    from vector_search_service_spark.service import SearchService

    return SearchService(spark, str(tmp_path / "store"))


def test_ingest_autocreates_and_search_roundtrip(svc):
    res = svc.ingest_document(
        "The quick brown fox jumps over the lazy dog. " * 60,
        collection_id="kb", metadata={"title": "Fox", "source": "test"},
    )
    assert res["status"] == "completed"  # documents.py:215 vocabulary
    assert res["chunks_created"] > 1          # real count, not the ref's always-1
    assert res["embedding_count"] == 0        # FTS path contract
    assert len(res["document_id"]) == 16      # sha256[:16] content id

    coll = svc.catalog.get_collection("kb")
    assert coll["doc_metadata"]["search_type"] == "fulltext"  # auto-create

    out = svc.similarity_search("quick brown fox", collection_id="kb", limit=5)
    assert out["total_found"] >= 1
    top = out["results"][0]
    assert 0 < top["score"] < 1
    assert top["chunk_index"] is not None
    assert top["metadata"]["document_id"] == res["document_id"]
    assert out["processing_time_ms"] >= 0

    # min_score filters (declared-but-dropped in the reference; applied here)
    none = svc.similarity_search("quick brown fox", collection_id="kb", min_score=0.999)
    assert none["total_found"] == 0

    # limit clamped to 1..100
    clamped = svc.similarity_search("quick", collection_id="kb", limit=10_000)
    assert clamped["total_found"] <= 100


def test_batch_contracts(svc):
    # batch requires a pre-existing collection (unlike single-doc)
    with pytest.raises(LookupError):
        svc.batch_ingest([{"content": "x"}], collection_id="nope")

    svc.catalog.create_collection("bulk")
    with pytest.raises(ValueError):
        svc.batch_ingest([{"content": "x"}] * 51, collection_id="bulk")

    docs = [{"content": f"document number {i} alpha beta"} for i in range(3)]
    docs.append({"content": "   "})  # invalid → per-doc failure, batch survives
    res = svc.batch_ingest(docs, collection_id="bulk", processing_mode="async")
    assert res["documents_queued"] == 4
    assert res["status_endpoint"] == f"/api/v1/jobs/{res['job_id']}/status"
    done = svc.jobs.wait(res["job_id"])
    assert done.status.value == "completed"
    status = svc.job_status(res["job_id"])
    assert status["progress_percent"] == 100.0
    assert status["result"] == {"successful": 3, "failed": 1}

    # sync mode returns no job handle (documents.py:274-298 contract)
    res2 = svc.batch_ingest(docs[:1], collection_id="bulk", processing_mode="sync")
    assert res2["job_id"] is None and res2["status"] == "completed"


def test_sync_batch_reports_failed_job(svc, monkeypatch):
    """Sync batch_ingest answers with the job's real outcome: a body
    that raises gives status "failed" and the job's error."""
    from vector_search_service_spark.service import SearchService

    svc.catalog.create_collection("sfail")

    def boom(self, raw, collection_id):
        raise RuntimeError("ingest exploded")

    monkeypatch.setattr(SearchService, "_ingest_frame", boom)
    res = svc.batch_ingest([{"content": "some words here"}],
                           collection_id="sfail", processing_mode="sync")
    assert res["status"] == "failed"
    assert res["error"] == "ingest exploded"
    assert res["job_id"] is None
    assert svc.jobs.list_jobs(limit=1)[0].status.value == "failed"


def test_warm_ingest_document_job_budget(spark, tmp_path):
    """A warm single-document ingest on a maintained-postings service
    runs 7 Spark jobs: the staged-frame and add_documents checkpoints,
    the dimension-check aggregate (two jobs), the documents and
    postings parquet writes, and one outcome collect — the only job
    launched from ingest.py itself."""
    import uuid

    from vector_search_service_spark.service import SearchService

    svc = SearchService(spark, str(tmp_path / "store"), maintain_fts_index=True)
    svc.ingest_document("warm up alpha beta " * 30, collection_id="jb")
    svc.ingest_document("warm up gamma delta " * 30, collection_id="jb")
    sc = spark.sparkContext
    group = f"ingest-budget-{uuid.uuid4()}"
    sc.setJobGroup(group, "job budget")
    try:
        res = svc.ingest_document("budgeted document zeta eta " * 30,
                                  collection_id="jb")
    finally:
        sc.setJobGroup("", "")
    assert res["status"] == "completed"
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) < 9
    assert len(jobs) == 7
    store = sc._jsc.sc().statusStore()
    names = [store.job(j).name() for j in jobs]
    assert sum("ingest.py" in n for n in names) == 1, names


def test_warm_delete_job_budget(spark, tmp_path):
    """A warm delete on a maintained-postings service runs 4 Spark
    jobs: one aggregate (two jobs) for the stored and deleted counts,
    then the documents and postings parquet writes. A no-op delete
    runs the aggregate only. The ids are a literal IN-list, so no job
    builds or broadcasts a frame of them."""
    import uuid

    from vector_search_service_spark.service import SearchService

    svc = SearchService(spark, str(tmp_path / "store"), maintain_fts_index=True)
    for i in range(3):
        svc.ingest_document(f"delete budget doc {i} alpha beta " * 30,
                            collection_id="db")
    ids = sorted(r["id"] for r in svc.list_documents("db"))
    svc.delete_documents("db", [ids[0]])  # warm-up
    sc = spark.sparkContext

    def jobs_of(document_ids):
        group = f"delete-budget-{uuid.uuid4()}"
        sc.setJobGroup(group, "job budget")
        try:
            out = svc.delete_documents("db", document_ids)
        finally:
            sc.setJobGroup("", "")
        return out, sc.statusTracker().getJobIdsForGroup(group)

    out, jobs = jobs_of([ids[1]])
    assert out["documents_deleted"] == 1
    assert len(jobs) < 8
    assert len(jobs) == 4
    store = sc._jsc.sc().statusStore()
    assert sum("parquet" in store.job(j).name() for j in jobs) == 2
    out, jobs = jobs_of(["no-such-chunk"])
    assert out["documents_deleted"] == 0
    assert len(jobs) < 5
    assert len(jobs) == 2
    assert sorted(r["id"] for r in svc.list_documents("db")) == ids[2:]


def test_mutations_leave_session_conf_alone(spark, tmp_path, monkeypatch):
    """Delete, upsert and compaction ask for dynamic partition
    overwrite per write; none of them sets it on the shared session,
    where it would leak into every other writer of that session."""
    from pyspark.sql.conf import RuntimeConfig

    from vector_search_service_spark.catalog import Catalog

    assert isinstance(spark.conf, RuntimeConfig)
    keys = []
    orig = RuntimeConfig.set

    def recording(self, key, value):
        keys.append(key)
        return orig(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording)
    cat = Catalog(spark, str(tmp_path / "store"), maintain_fts_index=True)
    cat.create_collection("conf")

    def rows(ids, text):
        return spark.createDataFrame(
            [(f"d{i}", text, {}, text.split(), None) for i in ids],
            "document_id string, content string, doc_metadata map<string,string>, "
            "content_lexemes array<string>, embedding array<float>",
        )

    cat.add_documents("conf", rows(range(4), "alpha beta"))
    assert cat.delete_documents("conf", ["d0"]) == 1
    assert cat.upsert_documents("conf", rows([3, 4], "gamma")) == \
        {"inserted": 1, "updated": 1}
    assert cat.compact_collection("conf")["files_after"] == 1
    assert sorted(r["document_id"] for r in cat.documents("conf").collect()) == \
        ["d1", "d2", "d3", "d4"]
    spark.conf.set("spark.sql.shuffle.partitions",
                   spark.conf.get("spark.sql.shuffle.partitions"))
    assert "spark.sql.shuffle.partitions" in keys  # the patch sees sets
    assert "spark.sql.sources.partitionOverwriteMode" not in keys


def test_document_listing_delete_stats(svc):
    svc.ingest_document("alpha beta gamma delta " * 10, collection_id="kb2")
    listing = svc.list_documents("kb2")
    assert listing and all(len(d["content_preview"]) <= 200 for d in listing)

    victim = listing[0]["id"]
    res = svc.delete_documents("kb2", [victim, "not-a-real-id"])
    assert res == {"documents_deleted": 1, "requested_deletions": 2}

    stats = svc.collection_stats("kb2")
    assert stats["document_count"] == len(listing) - 1

    h = svc.health()
    assert h["status"] == "healthy" and h["components"]["spark"] == "up"


def test_collections_crud_and_search_surface(svc):
    # create → info (real counts) → list → delete force-gate (the
    # reference's api/collections.py + GET /search/collections are
    # mock/TODO; here the same shapes run for real over the Catalog)
    created = svc.create_collection("docs", "real collection", metadata={"team": "ml"})
    assert created["status"] == "created" and created["name"] == "docs"

    svc.ingest_document("alpha beta gamma " * 80, collection_id="docs")
    info = svc.get_collection_info("docs")
    assert info["document_count"] > 0          # real chunk count, not mock
    assert info["embedding_count"] == 0        # FTS-path contract
    assert info["metadata"]["team"] == "ml"
    assert svc.get_collection_info("missing") is None

    listed = svc.search_collections()
    assert listed["total_count"] == len(listed["collections"]) >= 1
    assert any(c["name"] == "docs" for c in listed["collections"])

    with pytest.raises(ValueError):            # non-empty requires force
        svc.delete_collection("docs")
    out = svc.delete_collection("docs", force=True)
    assert out["status"] == "deleted" and out["force_delete"] is True
    assert svc.get_collection_info("docs") is None
    assert svc.delete_collection("docs") is None  # already gone


def test_batch_search_real_results(svc):
    svc.ingest_document("spark shuffle exchange partition " * 50, collection_id="kb2")
    svc.ingest_document("python pandas arrow batch " * 50, collection_id="kb2")
    out = svc.batch_search(
        ["spark shuffle", "pandas arrow", "no such terms zzz"],
        collection_id="kb2", limit=5,
    )
    assert out["queries_processed"] == 3 and out["status"] == "completed"
    assert out["results"][0]["total_found"] >= 1      # real hits, not mock
    assert out["results"][1]["results"][0]["score"] > 0
    assert out["results"][2]["total_found"] == 0       # and real misses


def test_job_results_surface(svc):
    svc.catalog.create_collection("jr")
    res = svc.batch_ingest(
        [{"content": f"job result doc {i} " * 30} for i in range(2)],
        collection_id="jr", processing_mode="async",
    )
    svc.jobs.wait(res["job_id"])
    out = svc.job_results(res["job_id"])
    assert out["status"] == "completed"
    assert out["results"] == {"successful": 2, "failed": 0}
    assert svc.job_results("nope") is None


def test_user_metadata_persisted_and_filterable(svc):
    """ADVICE r1: user metadata + extracted stats must survive the
    write so metadata_filter actually matches (the facade advertises it
    as APPLIED)."""
    svc.ingest_document(
        "Metadata persistence check alpha beta gamma. " * 40,
        collection_id="meta", metadata={"title": "Persist", "source": "unit", "author": "ann"},
    )
    svc.ingest_document(
        "Metadata persistence check alpha beta gamma delta. " * 40,
        collection_id="meta", metadata={"source": "other"},
    )
    hit = svc.similarity_search(
        "metadata persistence", collection_id="meta",
        metadata_filter={"source": "unit"},
    )
    assert hit["total_found"] >= 1
    meta = hit["results"][0]["metadata"]
    assert meta["source"] == "unit" and meta["author"] == "ann"
    assert meta["title"] == "Persist"          # user title wins over extracted
    assert int(meta["content_length"]) > 0     # extracted stats persisted
    assert int(meta["word_count"]) > 0 and int(meta["line_count"]) >= 1

    miss = svc.similarity_search(
        "metadata persistence", collection_id="meta",
        metadata_filter={"source": "nope"},
    )
    assert miss["total_found"] == 0


def test_ingest_returns_deterministic_distinct_ids(svc):
    """VERDICT r1 #5: ids come from the content-addressed pipeline, not
    a created_at re-read — back-to-back ingests get distinct, correct
    ids."""
    import hashlib

    r1 = svc.ingest_document("first document body " * 30, collection_id="ids")
    r2 = svc.ingest_document("second document body " * 30, collection_id="ids")
    assert r1["document_id"] != r2["document_id"]
    # G2: sha256(raw content + '_key:value' metadata suffixes)[:16]
    expected = hashlib.sha256(("first document body " * 30).encode()).hexdigest()[:16]
    assert r1["document_id"] == expected

    ids_in_store = {
        r["doc_metadata"]["document_id"]
        for r in svc.catalog.documents("ids").collect()
    }
    assert ids_in_store == {r1["document_id"], r2["document_id"]}


def test_batch_ingest_single_distributed_write(svc, monkeypatch):
    """VERDICT r1 #4: a mixed 50-doc batch does ONE catalog append, with
    per-doc outcomes from the plan's side-outputs."""
    from vector_search_service_spark.catalog import Catalog

    svc.catalog.create_collection("bulk50")
    calls = {"n": 0}
    orig = Catalog.add_documents

    def counting(self, name, docs):
        calls["n"] += 1
        return orig(self, name, docs)

    monkeypatch.setattr(Catalog, "add_documents", counting)

    docs = [{"content": f"bulk doc {i} with words " * 20, "chunk_size": 400 + i}
            for i in range(46)]
    docs += [{"content": "   "},                                   # validation reject
             {"content": "x", "metadata": {"chunk_index": "no"}},  # reserved key
             {"content": "ok doc " * 10, "metadata": "notadict"},  # bad metadata type
             {"content": "final ok doc " * 10}]
    res = svc.batch_ingest(docs, collection_id="bulk50", processing_mode="sync")
    assert res["status"] == "completed"
    job = svc.list_jobs()[0]
    assert job["result"] == {"successful": 47, "failed": 3}
    assert calls["n"] == 1  # one distributed write for the whole batch

    # per-doc chunk_size override honored via the column path
    chunks = svc.catalog.documents("bulk50").collect()
    sizes = [int(r["doc_metadata"]["chunk_size"]) for r in chunks]
    assert max(sizes) <= 460  # no chunk exceeds its per-doc cap
