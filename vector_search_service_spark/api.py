"""HTTP adapter — the reference's FastAPI surface (``src/main.py:73-94``,
``src/api/*.py``, ``api/openapi.yaml``) served over the Spark engine.

A thin translation layer only: every route body is one
``SearchService`` call (the engine facade), route paths/prefix/status
codes/error shape mirror the reference 1:1 — ``/api/v1`` prefix
(``src/main.py:90-94``), ``{"detail": ...}`` error bodies (FastAPI's
``HTTPException`` wire format), 422 for request-model violations
(pydantic ``Field(ge=1, le=100)`` bounds, ``src/api/models.py:27-35``),
404 for missing collections/jobs, 400 for validation failures.

Flask is the in-container stand-in for FastAPI (same WSGI contract,
available without network installs); the app factory takes a built
``SearchService`` so tests drive the real engine through
``app.test_client()`` with no socket. Serving is
``create_app(service).run(...)`` or any WSGI server.

The reference mounts its documents router's job endpoints
(``GET /jobs/{id}``, ``GET /jobs``, ``DELETE /jobs/{id}`` —
``src/api/documents.py:386-435``) and *declares* a richer jobs router
(``/jobs/{id}/status``, ``/jobs/{id}/results`` — ``src/api/jobs.py``)
without mounting it (``src/main.py:94``). Both shapes are served here,
for real.
"""

from __future__ import annotations

from datetime import datetime, timezone


def create_app(service):
    """Build the WSGI app over a ready ``SearchService``."""
    from flask import Flask, jsonify, request
    from flask.json.provider import DefaultJSONProvider

    class _ISOProvider(DefaultJSONProvider):
        @staticmethod
        def default(o):
            if isinstance(o, datetime):
                return o.isoformat()
            return DefaultJSONProvider.default(o)

    app = Flask("vector-search-service-spark")
    app.json = _ISOProvider(app)
    started = datetime.now(timezone.utc)

    def err(status: int, detail: str):
        return jsonify({"detail": detail}), status

    def body() -> dict:
        data = request.get_json(force=True, silent=True)
        return data if isinstance(data, dict) else {}

    def bounded(value, lo, hi, name: str):
        """pydantic Field(ge=lo, le=hi) → FastAPI 422."""
        if value is None:
            return None
        try:
            value = type(lo)(value)
        except (TypeError, ValueError):
            raise _Unprocessable(f"{name} must be a number") from None
        if not (lo <= value <= hi):
            raise _Unprocessable(f"{name} must be between {lo} and {hi}")
        return value

    class _Unprocessable(Exception):
        pass

    @app.errorhandler(_Unprocessable)
    def _unprocessable(e):
        return err(422, str(e))

    # -- root + health (src/main.py:96-108, src/api/health.py) ----------

    @app.get("/")
    def root():
        # field set is the reference's literal root payload
        # (src/main.py:102-108; openapi.yaml Root 200 schema)
        return jsonify({
            "service": "vector-search-service-spark",
            "version": "2.0.0",
            "status": "running",
            "docs_url": "/docs",
            "health_url": "/api/v1/health",
        })

    @app.get("/docs")
    def docs():
        # the reference serves FastAPI's generated docs here; Flask has
        # none, so the advertised docs_url resolves to a JSON route
        # index instead of a 404
        return jsonify(sorted(
            f"{','.join(sorted(r.methods - {'HEAD', 'OPTIONS'}))} {r.rule}"
            for r in app.url_map.iter_rules() if r.rule != "/static/<path:filename>"
        ))

    @app.get("/api/v1/health")
    def health():
        h = service.health()
        now = datetime.now(timezone.utc)
        h["timestamp"] = now
        h["uptime"] = (now - started).total_seconds()
        return jsonify(h)

    # -- search (src/api/search.py) -------------------------------------

    @app.post("/api/v1/search/similarity")
    def search_similarity():
        b = body()
        if not b.get("query"):
            raise _Unprocessable("query is required")
        limit = bounded(b.get("limit", 10), 1, 100, "limit")
        min_score = bounded(b.get("min_score"), 0.0, 1.0, "min_score")
        return jsonify(service.similarity_search(
            b["query"], collection_id=b.get("collection_id", "default"),
            limit=limit, min_score=min_score,
            metadata_filter=b.get("metadata_filter"),
        ))

    @app.post("/api/v1/search/batch")
    def search_batch():
        b = body()
        if not isinstance(b.get("queries"), list) or not b["queries"]:
            raise _Unprocessable("queries is required")
        limit = bounded(b.get("limit", 10), 1, 100, "limit")
        return jsonify(service.batch_search(
            b["queries"], collection_id=b.get("collection_id", "default"),
            limit=limit, metadata_filter=b.get("metadata_filter"),
        ))

    @app.get("/api/v1/search/collections")
    def search_collections():
        return jsonify(service.search_collections())

    # -- collections (src/api/collections.py) ---------------------------

    @app.post("/api/v1/collections")
    def create_collection():
        b = body()
        if not b.get("name"):
            raise _Unprocessable("name is required")
        try:
            return jsonify(service.create_collection(
                b["name"], b.get("description"), metadata=b.get("metadata"),
            )), 201
        except ValueError as e:
            return err(409, str(e))

    @app.get("/api/v1/collections/<collection_id>")
    def get_collection(collection_id):
        info = service.get_collection_info(collection_id)
        if info is None:
            return err(404, f"Collection '{collection_id}' not found")
        return jsonify(info)

    @app.delete("/api/v1/collections/<collection_id>")
    def delete_collection(collection_id):
        force = request.args.get("force", "false").lower() in ("1", "true", "yes")
        try:
            out = service.delete_collection(collection_id, force=force)
        except ValueError as e:  # non-empty without force
            return err(409, str(e))
        if out is None:
            return err(404, f"Collection '{collection_id}' not found")
        return jsonify(out)

    # -- documents (src/api/documents.py) -------------------------------

    @app.post("/api/v1/collections/<collection_name>/documents")
    def ingest_document(collection_name):
        b = body()
        if b.get("content") is None:
            raise _Unprocessable("content is required")
        try:
            out = service.ingest_document(
                b["content"], collection_id=collection_name,
                metadata=b.get("metadata"),
                chunk_size=b.get("chunk_size") or 1000,
                chunk_overlap=b.get("chunk_overlap") or 200,
            )
        except ValueError as e:  # reserved metadata keys etc. → 400
            return err(400, str(e))
        if out["status"] == "failed":
            return err(400, out.get("error") or "Document validation failed")
        return jsonify(out)

    @app.post("/api/v1/collections/<collection_name>/documents/batch")
    def batch_ingest(collection_name):
        b = body()
        docs = b.get("documents")
        if not isinstance(docs, list) or not docs:
            raise _Unprocessable("documents is required")
        mode = b.get("processing_mode", "async")
        if mode not in ("sync", "async"):
            raise _Unprocessable("processing_mode must be sync or async")
        try:
            out = service.batch_ingest(
                docs, collection_id=collection_name, processing_mode=mode,
            )
        except LookupError as e:
            return err(404, str(e))
        except ValueError as e:  # batch too large
            return err(400, str(e))
        return jsonify(out), 202 if mode == "async" else 200

    @app.get("/api/v1/collections/<collection_name>/documents")
    def list_documents(collection_name):
        limit = bounded(request.args.get("limit", 100), 1, 1000, "limit")
        offset = bounded(request.args.get("offset", 0), 0, 10**9, "offset")
        after = request.args.get("after")  # cursor → keyset (scale path)
        try:
            page = service.list_documents(
                collection_name, limit=limit, offset=offset, after=after,
            )
        except ValueError as e:
            return err(404, str(e))
        # body stays the reference's bare array contract
        # (src/api/documents.py:306 response_model=List[Dict]); the
        # keyset cursor rides a header so existing clients are
        # untouched and new ones can thread `after` for the scale path
        resp = jsonify(page)
        if len(page) == limit:
            resp.headers["X-Next-Cursor"] = page[-1]["id"]
        return resp

    @app.delete("/api/v1/collections/<collection_name>/documents")
    def delete_documents(collection_name):
        data = request.get_json(force=True, silent=True)
        ids = data.get("document_ids") if isinstance(data, dict) else data
        if not isinstance(ids, list):
            raise _Unprocessable("document_ids is required")
        if not all(isinstance(i, str) for i in ids):  # pydantic List[str]
            raise _Unprocessable("document_ids must be a list of strings")
        if service.get_collection_info(collection_name) is None:
            return err(404, f"Collection '{collection_name}' not found")
        out = service.delete_documents(collection_name, ids)
        out["collection_name"] = collection_name
        return jsonify(out)

    # -- jobs (documents router src/api/documents.py:386-435 + the
    #    declared-but-unmounted jobs router src/api/jobs.py) -------------

    @app.get("/api/v1/jobs/<job_id>")
    @app.get("/api/v1/jobs/<job_id>/status")
    def job_status(job_id):
        st = service.job_status(job_id)
        if st is None:
            return err(404, f"Job {job_id} not found")
        return jsonify(st)

    @app.get("/api/v1/jobs")
    def list_jobs():
        limit = bounded(request.args.get("limit", 100), 1, 1000, "limit")
        return jsonify(service.list_jobs(
            status=request.args.get("status"), limit=limit,
        ))

    @app.get("/api/v1/jobs/<job_id>/results")
    def job_results(job_id):
        out = service.job_results(job_id)
        if out is None:
            return err(404, f"Job {job_id} not found")
        # 202 keys on STATUS, not on the results payload: a failed or
        # cancelled job is terminal with results None — keying on the
        # payload made terminal jobs report "still processing" forever
        # (review-caught)
        if out["status"] not in ("completed", "failed", "cancelled"):
            return jsonify(out), 202  # still running (src/api/jobs.py)
        return jsonify(out)

    @app.delete("/api/v1/jobs/<job_id>")
    def cancel_job(job_id):
        # declared contract (src/api/jobs.py:100-105 + openapi.yaml):
        # 404 unknown job, 409 not-cancellable, 200 with the reference's
        # literal cancel payload (jobs.py:124-129)
        if service.jobs.get_job(job_id) is None:  # existence only — no payload build
            return err(404, f"Job {job_id} not found")
        if not service.cancel_job(job_id):
            return err(409, f"Job {job_id} cannot be cancelled")
        return jsonify({
            "message": f"Job {job_id} cancelled successfully",
            "job_id": job_id,
            "status": "cancelled",
            "timestamp": datetime.now(timezone.utc).isoformat(),
        })

    return app
