"""Request-level API: the reference's JSON payloads → engine calls.

A vearch user talks to `POST /document/{search,query,upsert,delete}`
with the request shapes in `internal/entity/request/search_doc.go:55-94`
and the document body rules of `doc_parse.go`. These functions accept
the SAME dict payloads against a :class:`~vearch_spark.space.Space`, so
switching engines is re-pointing the client, not rewriting requests:

- ``search``: `vectors` (field/feature/min_score/max_score, batched
  features allowed), `filters`, `limit`, `fields`, `vector_value`,
  `is_brute_search`, `l2_sqrt`, `ranker` (WeightedRanker), `sort`.
- ``query``: `document_ids` XOR `filters` (mutually exclusive,
  doc_http.go:573-593), `limit`/`offset`/`page_size`/`page_num`,
  `fields`, `sort`, `partition_names`.
- ``upsert``: `documents` list; `delete`: `document_ids` or `filters`.

Validation errors mirror the router's rejects (ranker type
doc_query.go:201-216, ids cap doc_http.go:579-583, ids-XOR-filters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from vearch_spark.auth import Resource
from vearch_spark.errors import DocumentError, SchemaError, SearchError
from vearch_spark.space import GET_BY_IDS_CAP, Space
from vearch_spark.operators.fusion import VectorQuery

# ------------------------------------------------------------- middleware
# Every verb takes ``user=`` (default root) and authorizes it against the
# owning auth store with the route's (resource, read|write) class — the
# BasicAuthMiddleware + Role.HasPermissionForResources chain the
# reference wraps every route in (doc_http.go:69-131, user.go:191-269
# ParseResources). Document verbs additionally pass the request-rate
# gate (HttpLimitMiddleware doc_http.go:133-165). A STANDALONE Space
# (no Registry) carries no auth store and skips the check — the
# reference's ``SkipAuth`` deployment switch (doc_http.go:180-183).
#
# ``user`` is either a bare NAME — cooperative identity assertion, the
# embedded-library default where the caller is the trusted in-process
# host — or a ``(name, password)`` pair, the Basic-Auth analog:
# authenticate() verifies the credential BEFORE authorize() checks the
# privilege, exactly the middleware order. Setting
# ``AuthStore.require_credentials = True`` (persisted in the catalog)
# rejects bare names on every gated verb, making the authentication
# half mandatory as in the reference's clustered deployment.


def _authorize(auth, user, resource: Resource, write: bool) -> None:
    if auth is None:  # SkipAuth mode: standalone Space, no registry
        return
    if isinstance(user, (tuple, list)):
        if len(user) != 2:
            raise SchemaError(
                "user credentials must be a (name, password) pair"
            )
        name, password = user
        auth.authenticate(name, password)
    else:
        name = user
        if getattr(auth, "require_credentials", False):
            raise SchemaError(
                "authentication required: this cluster rejects bare "
                "user names — pass user=(name, password)"
            )
    auth.authorize(name, resource, write)


def _doc_gate(space: Space, user: str, write: bool) -> None:
    """Auth + rate-limit entry check for the four /document verbs."""
    _authorize(getattr(space, "_auth", None), user, Resource.DOCUMENT, write)
    limiter = getattr(space, "_limiter", None)
    if limiter is not None:
        limiter.acquire(write)


def _parse_vectors(space: Space, vectors: list[dict]) -> list[VectorQuery]:
    out = []
    for v in vectors:
        if "field" not in v or "feature" not in v:
            raise SearchError("vector query requires 'field' and 'feature'")
        out.append(
            VectorQuery(
                field=v["field"],
                vector=v["feature"],
                min_score=v.get("min_score"),
                max_score=v.get("max_score"),
            )
        )
    return out


def _parse_ranker(req: dict, n_vectors: int) -> list[float] | None:
    """WeightedRanker — the only ranker type; applied only when >1
    vectors (common_query_data.h:251-317, doc_query.go:201-216 /
    1488-1493)."""
    ranker = req.get("ranker")
    if ranker is None:
        return None
    if ranker.get("type", "WeightedRanker") != "WeightedRanker":
        raise SearchError(f"ranker type not supported: {ranker.get('type')!r}")
    params = ranker.get("params")
    if params is not None and len(params) != n_vectors:
        raise SearchError(
            f"ranker params length {len(params)} != vector count {n_vectors}"
        )
    return params


def _split_batch_feature(space: Space, v: dict) -> list[list[float]] | None:
    """The reference's req_num parse (parseVectors doc_query.go:
    255-338): one entry's ``feature`` may hold q×dim values — q
    independent queries in one request — either flat (the reference's
    wire shape) or as a list of q vectors. Returns the split queries
    for q ≥ 2, else None (the single-query path handles validation and
    its own error surface). The field-spec lookup gates EVERY shape,
    nested lists included: on a binary (Hamming) field the split
    queries stay int byte codes (q×(d/8), doc_query.go:296-309) and
    route to the Hamming batch kernel — floats through the L2 kernel
    over packed bytes was the silent-wrong-scores bug this ordering
    fixes. Unknown / non-vector fields return None so the single-query
    verb raises its own typed error."""
    from vearch_spark.schema import FieldType, expected_vector_len, is_binary_field

    feat = v.get("feature") or []
    try:
        spec = space.schema.field(v["field"])
        if spec.type is not FieldType.VECTOR:
            return None
        binary = is_binary_field(spec)
        expected = expected_vector_len(spec)
    except Exception:
        return None
    cast = int if binary else float
    if feat and isinstance(feat[0], (list, tuple)):
        return [list(map(cast, f)) for f in feat] if len(feat) > 1 else None
    if expected and len(feat) > expected and len(feat) % expected == 0:
        q = len(feat) // expected
        return [
            list(map(cast, feat[i * expected : (i + 1) * expected]))
            for i in range(q)
        ]
    return None


def _validate_timeout(req: dict) -> None:
    """?timeout= rides the route's query string as integer milliseconds
    on the search/query/delete verbs; a non-integer value rejects
    (wrong_timeout_param badcases, test_document_{search,query}.py).
    Spark's scheduler owns cancellation, so a VALID timeout is
    accepted-and-advisory, like limit_cpu."""
    if "timeout" in req and req["timeout"] is not None:
        t = req["timeout"]
        bad = isinstance(t, bool)
        if not bad and not isinstance(t, int):
            try:
                bad = float(t) != int(float(t))
            except (TypeError, ValueError, OverflowError):
                bad = True  # OverflowError: "1e400"/inf → int(inf)
        if bad:
            raise SearchError(
                f"timeout must be integer milliseconds, got {t!r}"
            )


def search(space: Space, req: dict, user: str = "root") -> DataFrame:
    """`POST /document/search` (doc_http.go:659-744,
    request shape search_doc.go:71-94). A single vector entry whose
    feature holds q×dim floats becomes a BATCHED search (req_num
    independent top-k queries — one row per (query_id, hit)); batched
    multi-field fusion and batched sort/pagination are rejected."""
    _doc_gate(space, user, write=False)
    _validate_timeout(req)
    vectors = req.get("vectors") or []
    if not vectors:
        raise SearchError("search requires at least one vector query")
    if len(vectors) == 1 and "field" in vectors[0]:
        feat = vectors[0].get("feature") or []
        if feat and isinstance(feat[0], (list, tuple)) and len(feat) == 1:
            # a singly-nested feature is one query, not a batch
            vectors = [dict(vectors[0], feature=list(feat[0]))]
        batch = _split_batch_feature(space, vectors[0])
        if batch is not None:
            if req.get("sort") or req.get("page_size") or req.get("page_num"):
                raise SearchError(
                    "sort/pagination are per-query verbs; not supported "
                    "on a batched (q×dim) search request"
                )
            return space.search_batch(
                batch,
                vector_field=vectors[0]["field"],
                limit=int(req.get("limit", 50)),
                flt=req.get("filters"),
                min_score=vectors[0].get("min_score"),
                max_score=vectors[0].get("max_score"),
                offset=int(req.get("offset", 0)),
                l2_sqrt=bool(req.get("l2_sqrt", False)),
                is_brute_search=int(req.get("is_brute_search", 2)),
                nprobe=(req.get("index_params") or {}).get("nprobe"),
                output_fields=req.get("fields"),
                partition_names=req.get("partition_names"),
            )
    elif any(_split_batch_feature(space, v) for v in vectors if "field" in v):
        raise SearchError(
            "batched (q×dim) features cannot be combined with "
            "multi-field fusion in one request"
        )
    parsed = _parse_vectors(space, vectors)
    common = dict(
        limit=int(req.get("limit", 50)),
        flt=req.get("filters"),
        offset=int(req.get("offset", 0)),
        l2_sqrt=bool(req.get("l2_sqrt", False)),
        is_brute_search=int(req.get("is_brute_search", 2)),
        output_fields=req.get("fields"),
        vector_value=bool(req.get("vector_value", False)),
        partition_names=req.get("partition_names"),
        # post-merge sort + page slicing (search_doc.go:71-94,
        # doc_service.go:172-187, client.go:888-904)
        sort=req.get("sort"),
        page_size=req.get("page_size"),
        page_num=req.get("page_num"),
    )
    if len(parsed) == 1:
        vq = parsed[0]
        return space.search(
            vector=list(vq.vector),
            vector_field=vq.field,
            min_score=vq.min_score,
            max_score=vq.max_score,
            # both knobs ride the payload; Space.search decodes per
            # index type like the engine (doc_query.go:1408-1475) —
            # nprobe for the IVF family, efSearch for HNSW
            nprobe=(req.get("index_params") or {}).get("nprobe"),
            ef_search=(req.get("index_params") or {}).get("efSearch"),
            **common,
        )
    weights = _parse_ranker(req, len(parsed))
    # fusion path ignores single-query knobs that don't apply — but
    # is_brute_search and index_params DO apply (the fused path honors
    # forced-exact/forced-index and per-probe tuning, space.py
    # _fused_index_search); dropping them silently served approximate
    # results to is_brute_search=1 requests
    common.pop("vector_value")
    common.pop("offset")
    return space.search(
        vectors=parsed,
        weights=weights,
        nprobe=(req.get("index_params") or {}).get("nprobe"),
        ef_search=(req.get("index_params") or {}).get("efSearch"),
        **common,
    )


def query(space: Space, req: dict, user: str = "root") -> DataFrame:
    """`POST /document/query` (doc_http.go:521-610): get-by-ids XOR
    filter scan."""
    _doc_gate(space, user, write=False)
    _validate_timeout(req)
    ids = req.get("document_ids")
    filters = req.get("filters")
    if ids is not None and filters is not None:
        # mutually exclusive (doc_http.go:573-593)
        raise DocumentError("document_ids and filters are mutually exclusive")
    if ids is not None:
        return space.get(
            ids,
            output_fields=req.get("fields"),
            vector_value=bool(req.get("vector_value", False)),
        )
    return space.query(
        flt=filters,
        limit=int(req.get("limit", 50)),
        offset=int(req.get("offset", 0)),
        sort=req.get("sort"),
        page_size=req.get("page_size"),
        page_num=req.get("page_num"),
        output_fields=req.get("fields"),
        partition_names=req.get("partition_names"),
        vector_value=bool(req.get("vector_value", False)),
    )


def upsert(space: Space, req: dict, user: str = "root") -> int:
    """`POST /document/upsert` (doc_http.go:467): documents list,
    auto-_id when absent."""
    _doc_gate(space, user, write=True)
    docs = req.get("documents")
    if not docs:
        raise DocumentError("upsert requires a non-empty documents list")
    return space.upsert(docs)


def delete(space: Space, req: dict, user: str = "root") -> list[str]:
    """`POST /document/delete` (doc_http.go:745): by ids or by query;
    returns deleted ids (DelByQueryeExecute client.go:1851-1897)."""
    _doc_gate(space, user, write=True)
    _validate_timeout(req)
    ids = req.get("document_ids")
    filters = req.get("filters")
    if ids is not None and filters is not None:
        raise DocumentError("document_ids and filters are mutually exclusive")
    if ids is not None:
        if len(ids) >= GET_BY_IDS_CAP:
            # the get-by-ids cap (doc_http.go:579-583) bounds a delete too
            raise DocumentError(f"too many ids: {len(ids)} >= {GET_BY_IDS_CAP}")
        return space._delete_ids(ids)
    if filters is None:
        raise DocumentError("delete requires document_ids or filters")
    return space.delete_by_query(filters)


# ------------------------------------------------- index lifecycle verbs
# POST /index/{flush,forcemerge,rebuild} (doc_http.go:327-329)


def index_flush(space: Space, req: dict | None = None, user: str = "root") -> None:
    """`POST /index/flush` (doc_http.go:832 → Engine::Dump
    engine.cc:1246): persist engine state. Spark writes are durable at
    commit, so this delegates to the documented no-op."""
    _authorize(getattr(space, "_auth", None), user, Resource.INDEX, True)
    space.flush()


def index_forcemerge(space: Space, req: dict | None = None, user: str = "root") -> int:
    """`POST /index/forcemerge` (doc_http.go:874): compact segments.
    The bucketed store's version directories are the segment analog —
    compaction reclaims every directory the current manifest no longer
    references. Returns the number removed (the reference returns a
    per-partition ack)."""
    _authorize(getattr(space, "_auth", None), user, Resource.INDEX, True)
    return space.vacuum()


def update_space(space: Space, req: dict, user: str = "root") -> dict:
    """`PUT /dbs/{db}/spaces/{space}`: space update. Supported
    mutations (space_service.go:560-580): growing `partition_num`
    (reduction rejected, test_module_space.py::test_update_space_partition)
    and range-rule edits via `operator_type` ADD | DROP
    (test_module_partition.py::test_add_partitions/test_drop_partitions —
    DROP names the range with `partition_name`, ADD carries the new
    ranges under `partition_rule.ranges`)."""
    _authorize(getattr(space, "_auth", None), user, Resource.SPACE, True)
    if "operator_type" in req:
        rule = req.get("partition_rule") or {}
        ranges = [
            (r.get("name"), r.get("value")) for r in rule.get("ranges") or []
        ]
        return space.update_partition_rule(
            req["operator_type"],
            partition_name=req.get("partition_name"),
            ranges=ranges or None,
        )
    if "partition_num" not in req:
        raise DocumentError("update_space requires partition_num or operator_type")
    try:
        n = int(req["partition_num"])
    except (TypeError, ValueError):
        raise DocumentError(
            f"partition_num must be an integer, got {req['partition_num']!r}"
        ) from None
    return {"partition_num": space.update_partition_num(n)}


def get_config(space: Space, user: str = "root") -> dict:
    """`GET /config/{db}/{space}` (config_service.go:82-95): current
    space config — engine_cache_size / refresh_interval /
    slow_search_time / enable_id_cache / path."""
    _authorize(getattr(space, "_auth", None), user, Resource.CONFIG, False)
    return space.get_config()


def update_config(space: Space, req: dict, user: str = "root") -> dict:
    """`POST /config/{db}/{space}`: partial-merge config update
    (UpdateSpaceConfig config_service.go:97-133) — only the provided
    keys overwrite; echoes the merged config like the route's `data`."""
    _authorize(getattr(space, "_auth", None), user, Resource.CONFIG, True)
    return space.update_config(req or {})


def list_indexes(space: Space, detail: bool = False, db_name: str | None = None, user: str = "root") -> dict:
    """`GET /dbs/{db}/spaces/{space}/indexes[?detail=true]`
    (cluster_api.go:291-292; payload shape
    test_module_space_indexes.py:311-324)."""
    # GET /dbs/{db}/spaces/{space}/indexes parses to ResourceSpace
    # (ParseResources user.go:215-221 — /dbs + /spaces wins)
    _authorize(getattr(space, "_auth", None), user, Resource.SPACE, False)
    out = space.list_indexes(detail=detail)
    if db_name is not None:
        out = {"db_name": db_name, **out}
    return out


def delete_index(space: Space, index_name: str, user: str = "root") -> dict:
    """`DELETE /dbs/{db}/spaces/{space}/indexes/{name}`
    (cluster_api.go:294 → RemoveIndex space_service.go:1727-1782);
    echoes the remaining indexes like the route's space payload."""
    _authorize(getattr(space, "_auth", None), user, Resource.SPACE, True)
    space.remove_index(index_name)
    return space.list_indexes()


# --------------------------------------------------- master (cluster) verbs
# The master's db/space/alias routes (cluster_api.go:300-339) against a
# Registry — the same URL params + JSON bodies, so admin tooling ports
# by re-pointing the client like the document verbs above.


def create_db(reg, db_name: str, user: str = "root") -> dict:
    """`POST /dbs/{db}` (cluster_api.go:304 → createDB)."""
    _authorize(reg.auth, user, Resource.DB, True)
    reg.create_db(db_name)
    return {"name": db_name}


def list_dbs(reg, user: str = "root") -> list[dict]:
    """`GET /dbs` (cluster_api.go:306)."""
    _authorize(reg.auth, user, Resource.DB, False)
    return [{"name": n} for n in reg.list_dbs()]


def delete_db(reg, db_name: str, user: str = "root") -> None:
    """`DELETE /dbs/{db}` (cluster_api.go:307; non-empty dbs reject,
    same as the master's service check)."""
    _authorize(reg.auth, user, Resource.DB, True)
    reg.drop_db(db_name)


def create_space(reg, db_name: str, payload: dict, user: str = "root") -> Space:
    """`POST /dbs/{db}/spaces` with the create-space JSON body
    (space.go:464-559 — the same payload SpaceSchema.from_json parses;
    `partition_num` is the bucket count, validated like the update
    verb and applied at CONSTRUCTION so the persisted _SPACE.json
    carries it from the first commit)."""
    _authorize(reg.auth, user, Resource.SPACE, True)
    from vearch_spark.schema import SpaceSchema

    schema = SpaceSchema.from_json(payload)
    n_buckets = 16
    if payload.get("partition_num") is not None:
        try:
            n_buckets = int(payload["partition_num"])
        except (TypeError, ValueError):
            raise DocumentError(
                f"partition_num must be an integer, got "
                f"{payload['partition_num']!r}"
            ) from None
        if n_buckets < 1:
            raise DocumentError(
                f"partition_num must be >= 1, got {n_buckets}"
            )
    return reg.create_space(db_name, schema, n_buckets=n_buckets)


def list_spaces(reg, db_name: str, user: str = "root") -> list[dict]:
    """`GET /dbs/{db}/spaces` (cluster_api.go:311)."""
    _authorize(reg.auth, user, Resource.SPACE, False)
    return [{"name": n} for n in reg.list_spaces(db_name)]


def describe_space(reg, db_name: str, space_name: str, user: str = "root") -> dict:
    """`GET /dbs/{db}/spaces/{space}` (cluster_api.go:312 →
    describe_space payload shape: schema + index states + partition
    rule + doc count)."""
    _authorize(reg.auth, user, Resource.SPACE, False)
    return reg.space(db_name, space_name).describe()


def delete_space(reg, db_name: str, space_name: str, user: str = "root") -> None:
    """`DELETE /dbs/{db}/spaces/{space}` (cluster_api.go:313; aliases
    pointing at the space cascade, alias.go semantics)."""
    _authorize(reg.auth, user, Resource.SPACE, True)
    reg.drop_space(db_name, space_name)


def create_alias(reg, alias_name: str, db_name: str, space_name: str, user: str = "root") -> dict:
    """`POST /alias/{alias}/dbs/{db}/spaces/{space}`
    (cluster_api.go:335 → entity.Alias)."""
    _authorize(reg.auth, user, Resource.ALIAS, True)
    reg.create_alias(alias_name, db_name, space_name)
    return {"name": alias_name, "db_name": db_name, "space_name": space_name}


def modify_alias(reg, alias_name: str, db_name: str, space_name: str, user: str = "root") -> dict:
    """`PUT /alias/{alias}/dbs/{db}/spaces/{space}` (cluster_api.go:339)."""
    _authorize(reg.auth, user, Resource.ALIAS, True)
    reg.update_alias(alias_name, db_name, space_name)
    return {"name": alias_name, "db_name": db_name, "space_name": space_name}


def get_alias(reg, alias_name: str | None = None, user: str = "root"):
    """`GET /alias[/{alias}]` (cluster_api.go:336-337): one alias or
    the full listing."""
    _authorize(reg.auth, user, Resource.ALIAS, False)
    if alias_name is not None:
        db, sp = reg.get_alias(alias_name)
        return {"name": alias_name, "db_name": db, "space_name": sp}
    return [
        {"name": a, "db_name": d, "space_name": s}
        for a, (d, s) in sorted(reg.list_aliases().items())
    ]


def delete_alias(reg, alias_name: str, user: str = "root") -> None:
    """`DELETE /alias/{alias}` (cluster_api.go:338)."""
    _authorize(reg.auth, user, Resource.ALIAS, True)
    reg.delete_alias(alias_name)


def backup_space(reg, db_name: str, space_name: str, req: dict, user: str = "root") -> dict:
    """`POST /backup/dbs/{db}/spaces/{space}` (cluster_api.go:297):
    {command: create|restore, path, [backup_id]}."""
    _authorize(reg.auth, user, Resource.SPACE, True)
    if not req.get("path"):
        raise DocumentError("backup requires a path")
    command = req.get("command", "create")
    return reg.backup_space(
        db_name,
        space_name,
        req["path"],
        command=command,
        # create ALWAYS auto-increments — forwarding a stray backup_id
        # there would target (and the old code clobbered) an existing
        # snapshot; the version selector is a restore-only concept
        version=req.get("backup_id") if command == "restore" else None,
    )


def backup_db(reg, db_name: str, req: dict, user: str = "root") -> dict:
    """`POST /backup/dbs/{db}` (cluster_api.go:298)."""
    _authorize(reg.auth, user, Resource.SPACE, True)
    if not req.get("path"):
        raise DocumentError("backup requires a path")
    return reg.backup_db(db_name, req["path"], command=req.get("command", "create"))


def server_resource_limit(reg, resource_exhausted: bool | None = None, user: str = "root") -> dict:
    """`PUT /cluster/resource_limit` (test_module_resource_limit.py
    shape: omitting the flag clears the limit): while exhausted,
    document writes on every space reject and reads keep serving;
    setting it on an empty cluster rejects."""
    _authorize(reg.auth, user, Resource.PARTITION, True)
    reg.set_resource_limit(bool(resource_exhausted))
    return {"resource_exhausted": bool(resource_exhausted)}


def cluster_health(
    reg, db_name: str = "", space_name: str = "", detail: bool = False,
    user: str = "root",
) -> list[dict]:
    """`GET /cluster/health[?db=&space=&detail=]` (cluster_api.go:357 →
    PartitionInfo): per-db → per-space doc counts and status; `detail`
    adds per-space partition (bucket) counts and index states. Spark
    has no replica raft groups, so a resolvable space IS green. An
    unknown db/space filter raises like every other registry verb —
    a misspelled monitoring target must fail loudly, never read as
    'healthy and empty' forever."""
    from vearch_spark.errors import SchemaError

    _authorize(reg.auth, user, Resource.CLUSTER, False)
    if db_name and db_name not in reg.list_dbs():
        raise SchemaError(f"database {db_name!r} not found")
    if space_name:
        scope = [db_name] if db_name else reg.list_dbs()
        if not any(space_name in reg.list_spaces(d) for d in scope):
            raise SchemaError(f"space {space_name!r} not found")
    out = []
    for db in reg.list_dbs():
        if db_name and db != db_name:
            continue
        spaces = []
        for name in reg.list_spaces(db):
            if space_name and name != space_name:
                continue
            sp = reg.space(db, name)
            entry: dict = {
                "name": name,
                "doc_num": sp.count(),
                "status": "green",
            }
            if detail:
                entry["partition_num"] = sp.n_buckets
                entry["indexes"] = {
                    f.name: sp.index_state(f.name)
                    for f in sp.schema.vector_fields
                    if f.index is not None
                }
            spaces.append(entry)
        out.append({"db_name": db, "status": "green", "spaces": spaces})
    return out


def cluster_stats(reg, user: str = "root") -> list[dict]:
    """`GET /cluster/stats` (cluster_api.go:356): per-space storage
    stats — doc counts plus on-disk bytes for path-backed spaces (the
    reference reports per-partition disk paths and sizes)."""
    _authorize(reg.auth, user, Resource.CLUSTER, False)
    import os as _os

    out = []
    for db in reg.list_dbs():
        for name in reg.list_spaces(db):
            sp = reg.space(db, name)
            size = 0
            if sp.path:
                for root, _dirs, files in _os.walk(sp.path):
                    size += sum(
                        _os.path.getsize(_os.path.join(root, f)) for f in files
                    )
            out.append({
                "db_name": db,
                "space_name": name,
                "doc_num": sp.count(),
                "disk_bytes": size,
                "path": sp.path,
            })
    return out


# ------------------------------------------------------- user / role verbs
# The master's RBAC routes (/users, /roles — payload shapes as driven by
# test/utils/vearch_utils.py:1833-1913, rules in vearch_spark.auth).


def create_user(reg, req: dict, user: str = "root") -> dict:
    """`POST /users`: {name, password, role_name}."""
    _authorize(reg.auth, user, Resource.USER, True)
    if any(k not in req for k in ("name", "password", "role_name")):
        raise DocumentError("create user requires name, password, role_name")
    return reg.auth.create_user(req["name"], req["password"], req["role_name"])


def get_user(reg, user_name: str, user: str = "root") -> dict:
    """`GET /users/{name}` — never echoes the credential."""
    _authorize(reg.auth, user, Resource.USER, False)
    return reg.auth.get_user(user_name)


def list_users(reg, user: str = "root") -> list[dict]:
    """`GET /users`."""
    _authorize(reg.auth, user, Resource.USER, False)
    return reg.auth.list_users()


def update_user(reg, req: dict, user: str = "root") -> dict:
    """`PUT /users`: {name, password[, old_password][, role_name]} —
    partial update; password change verifies old_password when given
    (the self-service route), omitting it is the root-credential path
    (test_module_user.py::test_update_user_password_with_root)."""
    _authorize(reg.auth, user, Resource.USER, True)
    return reg.auth.update_user(
        req["name"],
        password=req.get("password"),
        old_password=req.get("old_password"),
        role_name=req.get("role_name"),
    )


def drop_user(reg, user_name: str, user: str = "root") -> None:
    """`DELETE /users/{name}` (root undeletable, user_service.go:85)."""
    _authorize(reg.auth, user, Resource.USER, True)
    reg.auth.drop_user(user_name)


def get_auth_mode(reg, user: str = "root") -> dict:
    """Whether verbs demand (name, password) credentials or accept a
    bare asserted name (see the middleware note at the top)."""
    _authorize(reg.auth, user, Resource.CONFIG, False)
    return {"require_credentials": reg.auth.require_credentials}


def modify_auth_mode(reg, req: dict, user: str = "root") -> dict:
    """Flip credential enforcement cluster-wide. Persisted in the
    catalog like every other auth mutation; flipping it ON requires the
    caller to already present valid credentials (it gates itself)."""
    enabled = bool(req.get("require_credentials", False))
    if enabled:
        # the caller enabling enforcement must themselves authenticate —
        # otherwise an asserted-root could lock out the real root
        if not isinstance(user, (tuple, list)):
            raise SchemaError(
                "enabling require_credentials needs user=(name, password)"
            )
    _authorize(reg.auth, user, Resource.CONFIG, True)
    reg.auth.set_require_credentials(enabled)
    return {"require_credentials": reg.auth.require_credentials}


def create_role(reg, req: dict, user: str = "root") -> dict:
    """`POST /roles`: {name, privileges: {Resource: Privilege}}."""
    _authorize(reg.auth, user, Resource.ROLE, True)
    return reg.auth.create_role(req["name"], req.get("privileges") or {}).to_json()


def get_role(reg, role_name: str, user: str = "root") -> dict:
    """`GET /roles/{name}` — built-ins resolve from the ROLE map."""
    _authorize(reg.auth, user, Resource.ROLE, False)
    return reg.auth.get_role(role_name).to_json()


def change_role_privilege(reg, req: dict, user: str = "root") -> dict:
    """`PUT /roles`: {name, operator: Grant|Revoke, privileges}."""
    _authorize(reg.auth, user, Resource.ROLE, True)
    return reg.auth.change_role_privilege(
        req["name"], req.get("operator", ""), req.get("privileges") or {}
    ).to_json()


def drop_role(reg, role_name: str, user: str = "root") -> None:
    """`DELETE /roles/{name}` (built-ins immutable)."""
    _authorize(reg.auth, user, Resource.ROLE, True)
    reg.auth.delete_role(role_name)


def index_rebuild(space: Space, req: dict | None = None, user: str = "root") -> list[str]:
    """`POST /index/rebuild` (doc_http.go:937 → Engine::RebuildIndex
    engine.cc:1013-1084): retrain every declared vector index from the
    current table. ``drop_before_rebuild`` (default true, as in the
    reference) clears trained models first so searches fall back to
    brute force during the rebuild rather than serving the stale index;
    ``limit_cpu`` is accepted for payload parity and ignored — Spark's
    scheduler owns parallelism. Returns the rebuilt field names."""
    _authorize(getattr(space, "_auth", None), user, Resource.INDEX, True)
    req = req or {}
    return space.rebuild_indexes(
        drop_before_rebuild=bool(req.get("drop_before_rebuild", True))
    )


# --------------------------------------------------- cluster config verbs
# GET/POST /config/{request_limit,memory_limit,slow_search_isolation}
# (cluster_api.go:309-317; payload shapes test_module_config.py and
# entity/config.go:17-31). request_limit and memory_limit live on the
# authed route group (→ ResourceConfig); slow_search_isolation rides
# the UNAUTHED group in the reference (cluster_api.go:316 uses `group`,
# not `groupAuth`) so it takes no privilege check here either.


def get_request_limit(reg, user: str = "root") -> dict:
    """`GET /config/request_limit` (cluster_api.go:2053-2066)."""
    _authorize(reg.auth, user, Resource.CONFIG, False)
    return reg.get_cluster_config("request_limit")


def modify_request_limit(reg, req: dict, user: str = "root") -> dict:
    """`POST /config/request_limit` (cluster_api.go:2069-2091 →
    entity.SetRequestLimit): re-arms the document read/write token
    buckets; counts ≤ 0 fall back to the 1e6 defaults; disabled →
    unlimited. Echoes the stored config like the route's `data`."""
    _authorize(reg.auth, user, Resource.CONFIG, True)
    return reg.set_cluster_config("request_limit", req or {})


def get_memory_limit(reg, user: str = "root") -> dict:
    """`GET /config/memory_limit` (cluster_api.go:2094-2107)."""
    _authorize(reg.auth, user, Resource.CONFIG, False)
    return reg.get_cluster_config("memory_limit")


def modify_memory_limit(reg, req: dict, user: str = "root") -> dict:
    """`POST /config/memory_limit` (cluster_api.go:2110-2132 →
    entity.SetMemoryLimit): stores the router/ps memory percents AND
    arms the write gate — while enabled and the worst executor's
    storage-memory use exceeds ``ps_memory_limit`` percent, document
    writes on every registry-owned space reject with a typed error and
    reads keep serving (the reference's PS write rejection under
    memory pressure). The metric source is
    SparkContext.getExecutorMemoryStatus; heap sizing/spill remain the
    JVM's job (the gctuner analog Spark replaces)."""
    _authorize(reg.auth, user, Resource.CONFIG, True)
    return reg.set_cluster_config("memory_limit", req or {})


def get_slow_search_isolation(reg) -> dict:
    """`GET /config/slow_search_isolation` (cluster_api.go:2135-2148;
    unauthed group)."""
    return reg.get_cluster_config("slow_search_isolation")


def modify_slow_search_isolation(reg, req: dict) -> dict:
    """`POST /config/slow_search_isolation` (cluster_api.go:2150+ →
    entity.SetSlowSearchIsolation): flips the cluster-wide switch that
    feeds every space's slow-search scheduler-pool heuristic
    (space.py _route_scheduler_pool)."""
    return reg.set_cluster_config("slow_search_isolation", req or {})


# ----------------------------------------------------- backup progress
# GET /backup/dbs/{db}/spaces/{space}/versions/{id}/progress and
# GET /restore/dbs/{db}/spaces/{space}/progress (cluster_api.go:298-301).
# The reference streams snapshots asynchronously and reports percent
# done; this rebuild's Space.backup/restore are SYNCHRONOUS (the parquet
# copy is the commit), so a version that exists is by definition 100%
# complete and one that doesn't is an error — the same response shape,
# degenerate progress values.


def get_backup_progress(
    reg, db_name: str, space_name: str, backup_path: str, version: int,
    user: str = "root",
) -> dict:
    """`GET /backup/.../versions/{id}/progress`: completed-progress
    document for an existing snapshot; unknown versions raise."""
    _authorize(reg.auth, user, Resource.SPACE, False)
    versions = reg.list_backup_versions(db_name, space_name, backup_path)
    if int(version) not in versions:
        from vearch_spark.errors import SchemaError

        raise SchemaError(
            f"backup version {version} not found for "
            f"{db_name!r}/{space_name!r}"
        )
    return {
        "backup_id": int(version),
        "status": "completed",
        "progress": 100,
    }


def get_restore_progress(
    reg, db_name: str, space_name: str, user: str = "root"
) -> dict:
    """`GET /restore/dbs/{db}/spaces/{space}/progress`: a restored
    space either exists (restore committed → 100%) or it doesn't
    (no restore in flight — synchronous restores can't be mid-way)."""
    _authorize(reg.auth, user, Resource.SPACE, False)
    reg.space(db_name, space_name)  # raises if absent
    return {"status": "completed", "progress": 100}


# ------------------------------------------------------------ cache verbs
# GET /cache/dbs/{db}/spaces/{space}, /cache/users/{name},
# /cache/roles/{name} (doc_http.go:336-339): the router's cached view
# of master metadata — a debugging surface for cache-vs-etcd drift. A
# Spark registry has no second cache layer (the catalog IS the live
# record), so these return the current record under the CACHE resource
# class, which is exactly what a drift-free reference router returns.


def cache_space_info(reg, db_name: str, space_name: str, user: str = "root") -> dict:
    """`GET /cache/dbs/{db}/spaces/{space}` (doc_http.go:337 →
    Cache().SpaceByCache)."""
    _authorize(reg.auth, user, Resource.CACHE, False)
    return reg.space(db_name, space_name).describe()


def cache_user_info(reg, user_name: str, user: str = "root") -> dict:
    """`GET /cache/users/{name}` (doc_http.go:338) — like the /users
    GET, never echoes the credential."""
    _authorize(reg.auth, user, Resource.CACHE, False)
    return reg.auth.get_user(user_name)


def cache_role_info(reg, role_name: str, user: str = "root") -> dict:
    """`GET /cache/roles/{name}` (doc_http.go:339)."""
    _authorize(reg.auth, user, Resource.CACHE, False)
    return reg.auth.get_role(role_name).to_json()


# ----------------------------------------------- route-sweep completions
# The remaining authed master routes (cluster_api.go:279-301) with a
# Spark analog. PUT /dbs/{db} (modifyDB → UpdateDBIpList — the db's
# allowed-PS ip placement list) and the /servers /partitions /schedule
# groups are raft/etcd placement administration with no Spark analog —
# out of scope like the other orchestration routes.


def describe_db(reg, db_name: str, user: str = "root") -> dict:
    """`GET /dbs/{db}` (cluster_api.go:279 → QueryDB): the db record.
    The reference returns {id, name, ps ip list}; there is no PS list
    here, so the useful payload is the name plus its space census."""
    _authorize(reg.auth, user, Resource.DB, False)
    spaces = reg.list_spaces(db_name)  # raises on unknown db
    return {"name": db_name, "space_num": len(spaces), "spaces": spaces}


def list_roles(reg, user: str = "root") -> list[dict]:
    """`GET /roles` (cluster_api.go → user-defined roles; built-ins are
    served from the ROLE map per role_service.go:104-106, not listed)."""
    _authorize(reg.auth, user, Resource.ROLE, False)
    return [r.to_json() for r in reg.auth.list_roles()]


def create_index(reg, db_name: str, space_name: str, req: dict,
                 user: str = "root") -> dict:
    """`POST /dbs/{db}/spaces/{space}/indexes` (cluster_api.go:293 →
    createIndex): {field, type, params} — add an index to an existing
    field; vector indexes then train via the rebuild verb. Echoes the
    index listing like the reference's space payload."""
    _authorize(reg.auth, user, Resource.SPACE, True)
    sp = reg.space(db_name, space_name)
    if "field" not in req:
        raise DocumentError("create index requires a field name")
    sp.add_index(req["field"], req.get("type", "SCALAR"),
                 req.get("params") or {})
    return sp.list_indexes()


def list_backup_versions(reg, db_name: str, space_name: str, req: dict,
                         user: str = "root") -> dict:
    """`GET /backup/.../versions` listing: {path} → version ids."""
    _authorize(reg.auth, user, Resource.SPACE, False)
    if not req.get("path"):
        raise DocumentError("backup requires a path")
    return {
        "versions": reg.list_backup_versions(db_name, space_name, req["path"])
    }


def delete_backup_version(reg, db_name: str, space_name: str, req: dict,
                          version: int, direct: bool = False,
                          user: str = "root") -> dict:
    """`DELETE /backup/.../versions/{v}[/direct]` (cluster_api.go:
    300-301). The reference's non-direct form routes the delete through
    the partition servers and /direct removes the snapshot master-side
    only; snapshots here live in one place, so both forms delete the
    version directory — ``direct`` is accepted for payload parity."""
    _authorize(reg.auth, user, Resource.SPACE, True)
    if not req.get("path"):
        raise DocumentError("backup requires a path")
    reg.delete_backup_version(db_name, space_name, req["path"], int(version))
    return {"backup_id": int(version), "deleted": True, "direct": bool(direct)}
