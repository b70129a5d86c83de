"""Route-level tests for the HTTP adapter (VERDICT r1 #8): the
reference's FastAPI surface (src/api/*.py) served over the real Spark
engine, driven through the WSGI test client — request/response shapes,
status codes, and FastAPI's {"detail": ...} error format."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def client(spark, tmp_path_factory):
    from vector_search_service_spark.api import create_app
    from vector_search_service_spark.service import SearchService

    svc = SearchService(spark, str(tmp_path_factory.mktemp("httpstore")))
    app = create_app(svc)
    app.config["TESTING"] = True
    with app.test_client() as c:
        yield c


def test_root_and_health(client):
    root = client.get("/").get_json()
    assert root["health_url"] == "/api/v1/health"

    h = client.get("/api/v1/health")
    assert h.status_code == 200
    data = h.get_json()
    assert data["status"] == "healthy"
    assert data["components"]["spark"] == "up"
    assert "timestamp" in data and data["uptime"] >= 0


def test_ingest_then_search_roundtrip(client):
    r = client.post(
        "/api/v1/collections/kb/documents",
        json={"content": "flask route over spark engine " * 40,
              "metadata": {"source": "http-test"}},
    )
    assert r.status_code == 200
    out = r.get_json()
    assert out["status"] == "completed" and out["chunks_created"] >= 1
    assert len(out["document_id"]) == 16

    s = client.post(
        "/api/v1/search/similarity",
        json={"query": "flask route", "collection_id": "kb",
              "metadata_filter": {"source": "http-test"}},
    )
    assert s.status_code == 200
    res = s.get_json()
    assert res["total_found"] >= 1
    assert res["results"][0]["metadata"]["source"] == "http-test"

    # pydantic bound violations → 422 (models.py ge/le)
    assert client.post("/api/v1/search/similarity",
                       json={"query": "x", "limit": 0}).status_code == 422
    assert client.post("/api/v1/search/similarity",
                       json={"query": "x", "min_score": 1.5}).status_code == 422
    assert client.post("/api/v1/search/similarity", json={}).status_code == 422

    # document validation failure → 400 with FastAPI error shape
    bad = client.post("/api/v1/collections/kb/documents", json={"content": "   "})
    assert bad.status_code == 400
    assert "empty" in bad.get_json()["detail"].lower()

    # reserved metadata key → 400
    rk = client.post(
        "/api/v1/collections/kb/documents",
        json={"content": "x y z", "metadata": {"chunk_index": "1"}},
    )
    assert rk.status_code == 400 and "reserved" in rk.get_json()["detail"]


def test_batch_ingest_async_job_lifecycle(client):
    client.post("/api/v1/collections", json={"name": "bulkhttp"})
    r = client.post(
        "/api/v1/collections/bulkhttp/documents/batch",
        json={"documents": [{"content": f"http batch doc {i} " * 20}
                            for i in range(3)] + [{"content": "  "}],
              "processing_mode": "async"},
    )
    assert r.status_code == 202
    out = r.get_json()
    assert out["documents_queued"] == 4
    assert out["status_endpoint"] == f"/api/v1/jobs/{out['job_id']}/status"

    # poll the advertised endpoint (plus the documents-router alias)
    import time

    for _ in range(100):
        st = client.get(out["status_endpoint"]).get_json()
        if st["status"] in ("completed", "failed"):
            break
        time.sleep(0.2)
    assert st["status"] == "completed"
    assert client.get(f"/api/v1/jobs/{out['job_id']}").get_json()["status"] == "completed"

    res = client.get(f"/api/v1/jobs/{out['job_id']}/results")
    assert res.status_code == 200
    assert res.get_json()["results"] == {"successful": 3, "failed": 1}

    jobs = client.get("/api/v1/jobs?status=completed").get_json()
    assert any(j["job_id"] == out["job_id"] for j in jobs)

    # 404s, cancel-of-unknown 404, cannot-cancel-completed 409
    # (declared contract: reference src/api/jobs.py:100-105)
    assert client.get("/api/v1/jobs/nope").status_code == 404
    assert client.get("/api/v1/jobs/nope/results").status_code == 404
    assert client.delete("/api/v1/jobs/nope").status_code == 404
    assert client.delete(f"/api/v1/jobs/{out['job_id']}").status_code == 409

    # batch guards: missing collection 404, oversized 400, bad mode 422
    assert client.post("/api/v1/collections/ghost/documents/batch",
                       json={"documents": [{"content": "x"}]}).status_code == 404
    big = [{"content": "x"}] * 51
    assert client.post("/api/v1/collections/bulkhttp/documents/batch",
                       json={"documents": big}).status_code == 400
    assert client.post("/api/v1/collections/bulkhttp/documents/batch",
                       json={"documents": [{"content": "x"}],
                             "processing_mode": "turbo"}).status_code == 422


def test_collections_crud_routes(client):
    r = client.post("/api/v1/collections",
                    json={"name": "crud", "description": "d", "metadata": {"k": "v"}})
    assert r.status_code == 201
    assert r.get_json()["status"] == "created"

    dup = client.post("/api/v1/collections", json={"name": "crud"})
    assert dup.status_code == 409

    info = client.get("/api/v1/collections/crud").get_json()
    assert info["name"] == "crud" and info["metadata"]["k"] == "v"
    assert client.get("/api/v1/collections/ghost").status_code == 404

    listed = client.get("/api/v1/search/collections").get_json()
    assert any(c["name"] == "crud" for c in listed["collections"])

    client.post("/api/v1/collections/crud/documents",
                json={"content": "delete gate doc " * 30})
    assert client.delete("/api/v1/collections/crud").status_code == 409  # non-empty
    assert client.delete("/api/v1/collections/crud?force=true").status_code == 200
    assert client.get("/api/v1/collections/crud").status_code == 404
    assert client.delete("/api/v1/collections/crud").status_code == 404


def test_document_listing_and_delete_routes(client):
    ing = client.post("/api/v1/collections/dl/documents",
                      json={"content": "listable doc " * 40}).get_json()
    docs = client.get("/api/v1/collections/dl/documents?limit=10").get_json()
    assert docs and all(len(d["content_preview"]) <= 200 for d in docs)
    assert client.get("/api/v1/collections/ghost/documents").status_code == 404

    # cursor round-trip: the body stays the reference's bare-array
    # contract; a full page carries X-Next-Cursor, and threading it
    # through `after` switches the route to keyset pagination and
    # continues exactly where the page ended, with no overlap
    r1 = client.get("/api/v1/collections/dl/documents?limit=2")
    cursor = r1.headers.get("X-Next-Cursor")
    if cursor is not None:
        p2 = client.get(
            f"/api/v1/collections/dl/documents?limit=2&after={cursor}"
        ).get_json()
        ids1 = {d["id"] for d in r1.get_json()}
        ids2 = {d["id"] for d in p2}
        assert not ids1 & ids2
        assert all(i > cursor for i in ids2)

    victim = docs[0]["id"]
    out = client.delete(
        "/api/v1/collections/dl/documents",
        json={"document_ids": [victim, "missing-id"]},
    ).get_json()
    assert out == {"collection_name": "dl", "documents_deleted": 1,
                   "requested_deletions": 2}
    assert client.delete("/api/v1/collections/ghost/documents",
                         json={"document_ids": ["x"]}).status_code == 404
    # document_ids is the reference's pydantic List[str]: a non-string
    # element is a request-model violation (422), not a silent no-op
    for bad in ([1], [None]):
        r = client.delete("/api/v1/collections/dl/documents",
                          json={"document_ids": bad})
        assert r.status_code == 422, bad
        assert "detail" in r.get_json()
    assert ing["chunks_created"] >= 1


def test_batch_search_route(client):
    client.post("/api/v1/collections/bs/documents",
                json={"content": "spark catalyst optimizer " * 30})
    r = client.post("/api/v1/search/batch",
                    json={"queries": ["spark catalyst", "zzz absent"],
                          "collection_id": "bs"})
    assert r.status_code == 200
    out = r.get_json()
    assert out["queries_processed"] == 2 and out["status"] == "completed"
    assert out["results"][0]["total_found"] >= 1
    assert out["results"][1]["total_found"] == 0
    assert client.post("/api/v1/search/batch", json={}).status_code == 422
