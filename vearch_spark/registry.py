"""Database / space / alias registry — the master's metadata surface.

The reference master keeps cluster metadata in etcd: databases
(`internal/entity/db.go`), spaces per db (`internal/entity/space.go`),
and aliases — a name → (db, space) indirection resolved on every
document route (`internal/entity/alias.go`; routes proxied at
`internal/router/document/doc_http.go:237-241`). On Spark there is no
cluster to coordinate, so the registry is a catalog:
create/list/drop databases and spaces, create/update/delete aliases,
and resolve either a real space name or an alias at lookup time —
the same indirection a SQL view gives a table.

Durability (the etcd-persistence analog): construct with ``root`` (or
``Registry.load(spark, root)``) and the catalog persists itself to
``root/_CATALOG.json`` — dbs, space paths, aliases — on every mutation
(atomic tmp+rename, same discipline as the Space manifest). Spaces
created under a rooted registry default to ``root/<db>/<space>`` and
are therefore path-backed; a NEW session's ``Registry.load(root)``
reattaches every space lazily via :meth:`Space.open` (schema/config
from the space's own ``_SPACE.json``), so ``space("db", "alias")`` →
search works across restarts with no client-held schema — the
reference master's restart behavior (`internal/master/services/`,
exercised by `test/test_module_space.py`).

Validation mirrors the master's rules: duplicate db/space/alias names
rejected, dropping a non-empty db rejected (master requires spaces
deleted first), alias must point at an existing space.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

from vearch_spark.errors import ConcurrentWriteError, SchemaError
from vearch_spark.persist import read_json, write_json
from vearch_spark.schema import SpaceSchema
from vearch_spark.space import Space

_NAME_RE = re.compile(r"^[A-Za-z0-9_.-]+$")


def _default_cluster_config() -> dict:
    """entity.ConfigInfo defaults (config.go:39-45, 63-67). Note the
    reference's limiters START unlimited (rate.Inf, burst 0 —
    config.go:52-53) regardless of the enabled flag; limiting begins
    only when a POST /config/request_limit arrives."""
    return {
        "request_limit": {
            "request_limit_enabled": True,
            "read_request_limit_count": 1000000.0,
            "write_request_limit_count": 1000000.0,
        },
        "memory_limit": {
            "memory_limit_enabled": True,
            "router_memory_limit": 90,
            "ps_memory_limit": 90,
        },
        "slow_search_isolation": {"slow_search_isolation_enabled": True},
    }


class RequestLimiter:
    """The router's document-request token buckets
    (`entity.ReadLimiter`/`WriteLimiter`, config.go:52-53 +
    SetRequestLimit config.go:69-122; gate applied per /document route
    in `HttpLimitMiddleware`, doc_http.go:133-165). Semantics kept
    exactly: rate = configured count / router count (ONE router here —
    the driver), burst = int(rate * 1.1), and until the first
    configure() both buckets are unlimited. A burst-0 bucket (count <
    1) rejects every request — the reference's
    test_upsert_over_write_limit relies on that with count 0.5."""

    _UNLIMITED = float("inf")

    def __init__(self):
        import threading
        import time as _time

        self._clock = _time.monotonic
        # one request per serving thread (the scheduler-pool model) —
        # the buckets are shared state like the reference's
        # goroutine-safe rate.Limiter, so mutate under a lock
        self._lock = threading.Lock()
        # start unlimited like rate.NewLimiter(rate.Inf, 0)
        self._rate = {"read": self._UNLIMITED, "write": self._UNLIMITED}
        self._burst = {"read": 0, "write": 0}
        self._tokens = {"read": 0.0, "write": 0.0}
        self._last = {"read": self._clock(), "write": self._clock()}
        self._configured = False

    def configure(self, cfg: dict) -> None:
        with self._lock:
            self._configure_locked(cfg)

    def _configure_locked(self, cfg: dict) -> None:
        if cfg.get("request_limit_enabled"):
            for kind, key in (
                ("read", "read_request_limit_count"),
                ("write", "write_request_limit_count"),
            ):
                count = float(cfg.get(key) or 0.0)
                rate = count if count > 0 else 1000000.0
                self._rate[kind] = rate
                self._burst[kind] = int(rate * 1.1)
                self._tokens[kind] = float(self._burst[kind])
                self._last[kind] = self._clock()
        else:
            for kind in ("read", "write"):
                self._rate[kind] = self._UNLIMITED
                self._burst[kind] = 0
                self._tokens[kind] = 0.0
        self._configured = True

    def acquire(self, write: bool) -> None:
        """Raises the middleware's typed reject when the bucket is dry
        (doc_http.go:148/156)."""
        from vearch_spark.errors import DocumentError

        kind = "write" if write else "read"
        with self._lock:
            if self._rate[kind] == self._UNLIMITED:
                return
            now = self._clock()
            self._tokens[kind] = min(
                float(self._burst[kind]),
                self._tokens[kind] + (now - self._last[kind]) * self._rate[kind],
            )
            self._last[kind] = now
            if self._tokens[kind] >= 1.0:
                self._tokens[kind] -= 1.0
                return
            burst = self._burst[kind]
        raise DocumentError(
            f"document {kind} request too frequency, have reached "
            f"limit {burst}"
        )


class Registry:
    """Catalog of databases, spaces, and aliases — in-process by
    default, durable under ``root``."""

    def __init__(self, spark: SparkSession, root: str | None = None):
        from vearch_spark.auth import AuthStore

        self.spark = spark
        self.root = root
        # name -> (Space | None): None = persisted but not yet
        # reattached this session (materialized lazily by space())
        self._dbs: dict[str, dict[str, Space | None]] = {}
        self._paths: dict[tuple[str, str], str] = {}
        self._aliases: dict[str, tuple[str, str]] = {}
        # the master's RBAC surface (users/roles, vearch_spark.auth) —
        # persisted with the catalog under a rooted registry
        self.auth = AuthStore()
        # cluster resource limit (PUT /cluster/resource_limit): while
        # set, document writes on every space reject; reads serve
        self._resource_exhausted = False
        # monotone catalog version for the save-time CAS — 0 = no
        # persisted catalog seen yet (see _save_catalog)
        self._catalog_version = 0
        # cluster-wide config verbs (/config/request_limit etc.,
        # cluster_api.go:309-317) — defaults mirror entity.ConfigInfo
        # (config.go:63-67)
        self._cluster_config = _default_cluster_config()
        self._limiter = RequestLimiter()
        if root:
            os.makedirs(root, exist_ok=True)
            self._load_catalog()
        self.auth._on_change = self._save_catalog

    @classmethod
    def load(cls, spark: SparkSession, root: str) -> "Registry":
        """Reattach to a persisted catalog — the new-session entry
        point (`Registry.load(root)` → `space("db","name")` → search)."""
        return cls(spark, root=root)

    # ------------------------------------------------------------- catalog

    def _catalog_path(self) -> str:
        return os.path.join(self.root, "_CATALOG.json")

    def _load_catalog(self) -> None:
        p = self._catalog_path()
        if not os.path.exists(p):
            return
        cat = read_json(p)
        self._catalog_version = int(cat.get("version", 0))
        for db, spaces in (cat.get("dbs") or {}).items():
            self._dbs[db] = {}
            for name, entry in (spaces or {}).items():
                self._dbs[db][name] = None  # lazy: Space.open on demand
                self._paths[(db, name)] = entry["path"]
        self._aliases = {
            a: (tgt[0], tgt[1]) for a, tgt in (cat.get("aliases") or {}).items()
        }
        if cat.get("auth"):
            from vearch_spark.auth import AuthStore

            self.auth = AuthStore.from_json(cat["auth"])
        self._resource_exhausted = bool(cat.get("resource_exhausted", False))
        if cat.get("cluster_config"):
            cc = _default_cluster_config()
            for k, v in cat["cluster_config"].items():
                if k in cc and isinstance(v, dict):
                    cc[k].update(v)
            self._cluster_config = cc
        if cat.get("request_limit_configured"):
            self._limiter.configure(self._cluster_config["request_limit"])

    def reload(self) -> "Registry":
        """Refresh this instance from the persisted catalog — the retry
        path after a :class:`ConcurrentWriteError` (another Registry on
        the same root committed first; the reference client simply
        re-reads etcd). Already-materialized Space handles survive when
        their catalog entry (same path) does."""
        if not self.root:
            return self
        live = {
            (db, name): sp
            for db, spaces in self._dbs.items()
            for name, sp in spaces.items()
            if sp is not None
        }
        old_paths = dict(self._paths)
        self._dbs = {}
        self._paths = {}
        self._aliases = {}
        from vearch_spark.auth import AuthStore

        self.auth = AuthStore()
        self._resource_exhausted = False
        self._cluster_config = _default_cluster_config()
        self._load_catalog()
        self.auth._on_change = self._save_catalog
        for (db, name), sp in live.items():
            if self._paths.get((db, name)) == old_paths.get((db, name)):
                if name in self._dbs.get(db, {}):
                    sp.set_resource_limit(self._resource_exhausted)
                    # re-wire the survivor onto the RELOADED gates —
                    # without this sp._auth keeps pointing at the
                    # pre-reload AuthStore, so RBAC changes committed
                    # by the other Registry (new users, revoked
                    # privileges) would not be enforced on it
                    self._wire(sp)
                    self._dbs[db][name] = sp
        return self

    def _save_catalog(self) -> None:
        if not self.root:
            return
        cat = {
            "version": self._catalog_version + 1,
            "dbs": {
                db: {
                    name: {"path": self._paths[(db, name)]}
                    for name in sorted(spaces)
                }
                for db, spaces in self._dbs.items()
            },
            "aliases": {a: list(t) for a, t in self._aliases.items()},
            "auth": self.auth.to_json(),
            "resource_exhausted": self._resource_exhausted,
            "cluster_config": self._cluster_config,
            "request_limit_configured": self._limiter._configured,
        }
        # Optimistic CAS under an advisory lock — the same discipline
        # the Space manifest commit uses (space.py _store_manifest):
        # two Registry instances on one root that both loaded version N
        # would otherwise both publish N+1 and the first writer's
        # catalog entry silently vanishes (the reference serializes ALL
        # metadata writes through etcd, master/services/*). The loser
        # gets a typed error; reload() is its retry path.
        lock_path = self._catalog_path() + ".lock"
        with open(lock_path, "w") as lock_fh:
            try:
                import fcntl

                fcntl.flock(lock_fh, fcntl.LOCK_EX)
            except ImportError:  # non-POSIX: the CAS check still applies
                pass
            disk_v = 0
            if os.path.exists(self._catalog_path()):
                disk_v = int(read_json(self._catalog_path()).get("version", 0))
            if disk_v != self._catalog_version:
                raise ConcurrentWriteError(
                    f"catalog commit conflict: expected on-disk version "
                    f"{self._catalog_version}, found {disk_v} — another "
                    "Registry committed first; call reload() and retry"
                )
            write_json(self._catalog_path(), cat)
        self._catalog_version = cat["version"]

    def _check_name(self, kind: str, name: str) -> None:
        if not name:
            raise SchemaError(f"{kind} name required")
        if self.root and not _NAME_RE.match(name):
            # durable catalogs derive filesystem paths from names —
            # the master likewise rejects names that can't be keys
            raise SchemaError(
                f"{kind} name {name!r} must match [A-Za-z0-9_.-]+"
            )

    # ------------------------------------------------------------ databases

    def create_db(self, name: str) -> None:
        self._check_name("database", name)
        if name in self._dbs:
            raise SchemaError(f"database {name!r} already exists")
        self._dbs[name] = {}
        self._save_catalog()

    def list_dbs(self) -> list[str]:
        return sorted(self._dbs)

    def drop_db(self, name: str) -> None:
        spaces = self._dbs.get(name)
        if spaces is None:
            raise SchemaError(f"database {name!r} not found")
        if spaces:
            # master refuses to drop a db that still holds spaces
            raise SchemaError(
                f"database {name!r} still holds spaces: {sorted(spaces)}"
            )
        del self._dbs[name]
        self._save_catalog()

    # --------------------------------------------------------------- spaces

    def create_space(
        self,
        db: str,
        schema: SpaceSchema,
        path: str | None = None,
        refresh_interval: int = 1000,
        n_buckets: int = 16,
    ) -> Space:
        spaces = self._dbs.get(db)
        if spaces is None:
            raise SchemaError(f"database {db!r} not found")
        if schema.name in spaces:
            raise SchemaError(f"space {schema.name!r} already exists in {db!r}")
        if self.root and path is None:
            # durable by default under a rooted registry
            self._check_name("space", schema.name)
            path = os.path.join(self.root, db, schema.name)
        if path is not None:
            # CREATE means create: stale storage at the target (e.g. a
            # drop whose rmtree failed) must not silently reattach the
            # OLD schema/data under the new space's name — Space's
            # stored-meta-wins reattach is for Space.open / same-schema
            # reattach, not for a create that asked for something else
            self._reject_stale_space_meta(path, schema)
        space = Space(
            self.spark, schema, path=path,
            refresh_interval=refresh_interval, n_buckets=n_buckets,
        )
        space.set_resource_limit(self._resource_exhausted)
        self._wire(space)
        spaces[schema.name] = space
        if path is not None:
            self._paths[(db, schema.name)] = path
        self._save_catalog()
        return space

    def list_spaces(self, db: str) -> list[str]:
        spaces = self._dbs.get(db)
        if spaces is None:
            raise SchemaError(f"database {db!r} not found")
        return sorted(spaces)

    def drop_space(self, db: str, name: str) -> None:
        """Deletes the catalog entry AND, for a space stored under the
        registry root, its data directory — the master deletes the
        space's partitions on DELETE /dbs/{db}/spaces/{space}. A space
        at a caller-supplied path outside the root only leaves the
        catalog (the registry doesn't own that storage)."""
        spaces = self._dbs.get(db)
        if spaces is None or name not in spaces:
            raise SchemaError(f"space {db!r}/{name!r} not found")
        path = self._paths.get((db, name))
        if path and self.root:
            rootp = os.path.realpath(self.root)
            real = os.path.realpath(path)
            if real.startswith(rootp + os.sep) and os.path.exists(real):
                import shutil

                # delete BEFORE the catalog mutation and surface
                # failures: a swallowed rmtree error used to leave the
                # old _SPACE.json behind, and the next create_space at
                # this path silently reattached the old schema/data
                try:
                    shutil.rmtree(real)
                except OSError as e:
                    raise SchemaError(
                        f"drop_space {db!r}/{name!r}: failed to delete "
                        f"storage at {real!r}: {e} — catalog entry kept; "
                        "resolve and retry"
                    ) from e
        del spaces[name]
        self._paths.pop((db, name), None)
        # cascade: aliases pointing at the dropped space die with it
        self._aliases = {
            a: tgt for a, tgt in self._aliases.items() if tgt != (db, name)
        }
        self._save_catalog()

    # -------------------------------------------------------------- aliases

    def create_alias(self, alias: str, db: str, space: str) -> None:
        self._check_name("alias", alias)
        if alias in self._aliases:
            raise SchemaError(f"alias {alias!r} already exists")
        self._check_space_exists(db, space)
        self._aliases[alias] = (db, space)
        self._save_catalog()

    def update_alias(self, alias: str, db: str, space: str) -> None:
        if alias not in self._aliases:
            raise SchemaError(f"alias {alias!r} not found")
        self._check_space_exists(db, space)
        self._aliases[alias] = (db, space)
        self._save_catalog()

    def delete_alias(self, alias: str) -> None:
        if alias not in self._aliases:
            raise SchemaError(f"alias {alias!r} not found")
        del self._aliases[alias]
        self._save_catalog()

    def get_alias(self, alias: str) -> tuple[str, str]:
        if alias not in self._aliases:
            raise SchemaError(f"alias {alias!r} not found")
        return self._aliases[alias]

    def list_aliases(self) -> dict[str, tuple[str, str]]:
        return dict(self._aliases)

    # ------------------------------------------------------------- resolve

    def space(self, db: str, name: str) -> Space:
        """Resolve a space by (db, name); ``name`` may be an alias —
        the per-request indirection the router applies
        (doc_http.go:237-241). The addressed db must EXIST even when an
        alias carries its own (db, space) target — a request routed at
        a never-created database is a client error, not a resolvable
        path (the reference validates the URL db before the alias
        lookup)."""
        spaces = self._dbs.get(db)
        if spaces is None:
            raise SchemaError(f"database {db!r} not found")
        if name in spaces:
            return self._materialize(db, name)
        if name in self._aliases:
            adb, aspace = self._aliases[name]
            self._check_space_exists(adb, aspace)
            return self._materialize(adb, aspace)
        raise SchemaError(f"space {db!r}/{name!r} not found")

    def _check_space_exists(self, db: str, name: str) -> None:
        spaces = self._dbs.get(db)
        if spaces is None or name not in spaces:
            raise SchemaError(f"space {db!r}/{name!r} not found")

    # -------------------------------------------------------------- backup

    def backup_space(
        self,
        db: str,
        name: str,
        backup_path: str,
        command: str = "create",
        version: int | None = None,
    ) -> dict:
        """`POST /backup/dbs/{db}/spaces/{space}` (cluster_api.go:297;
        payload command create|restore, test_module_backup.py):

        - create: snapshot the space (schema + docs, Space.backup) into
          ``{backup_path}/{db}/{name}/v{N}`` — N ALWAYS auto-increments
          (a caller-supplied version is ignored on create: honoring it
          would let a stray ``backup_id`` silently overwrite an
          existing snapshot); returns {"backup_id": N}.
        - restore: recreate the space from version N (default: latest)
          via Space.restore and register it; the space must not
          currently exist (the reference restores after a destroy), and
          a restore is a bulk WRITE — it rejects while the cluster
          resource limit is set, like every other write.

        ``name`` must be a real space name, never an alias: an alias
        resolves to a different storage identity, and restoring under
        one would register a duplicate that shadows the alias forever.
        """
        if name in self._aliases:
            raise SchemaError(
                f"{name!r} is an alias — back up / restore the target "
                f"space {self._aliases[name][1]!r} directly"
            )
        root = os.path.join(backup_path, db, name)
        if command == "create":
            sp = self.space(db, name)
            n = max(self._backup_versions(root), default=0) + 1
            sp.backup(os.path.join(root, f"v{n}"))
            return {"backup_id": n}
        if command == "restore":
            from vearch_spark.errors import DocumentError

            if self._resource_exhausted:
                raise DocumentError(
                    "resource exhausted: restore is a bulk write and is "
                    "rejected until the cluster resource limit clears"
                )
            spaces = self._dbs.get(db)
            if spaces is None:
                raise SchemaError(f"database {db!r} not found")
            if name in spaces:
                raise SchemaError(
                    f"space {db!r}/{name!r} still exists — drop it before restore"
                )
            versions = self._backup_versions(root)
            if not versions:
                raise SchemaError(f"no backup versions under {root!r}")
            n = version if version is not None else max(versions)
            if n not in versions:
                raise SchemaError(f"backup version {n} not found under {root!r}")
            target = None
            if self.root:
                self._check_name("space", name)
                target = os.path.join(self.root, db, name)
            sp = Space.restore(
                self.spark, os.path.join(root, f"v{n}"), target_path=target
            )
            sp.set_resource_limit(self._resource_exhausted)
            self._wire(sp)
            spaces[name] = sp
            if target is not None:
                self._paths[(db, name)] = target
            self._save_catalog()
            return {"backup_id": n}
        raise SchemaError(f"backup command not supported: {command!r}")

    def backup_db(self, db: str, backup_path: str, command: str = "create") -> dict:
        """`POST /backup/dbs/{db}` (cluster_api.go:298): the space verb
        across every space in the db. For create that is every LIVE
        space; for restore it is every space with a backup directory
        under ``{backup_path}/{db}`` that is not currently registered —
        iterating live spaces would make a post-destroy db-wide restore
        a silent no-op. Returns per-space backup ids."""
        if command == "restore":
            broot = os.path.join(backup_path, db)
            live = set(self.list_spaces(db))  # validates the db exists
            names = sorted(
                d for d in (
                    os.listdir(broot) if os.path.isdir(broot) else []
                )
                if d not in live and self._backup_versions(os.path.join(broot, d))
            )
        else:
            names = self.list_spaces(db)
        return {
            "spaces": {
                n: self.backup_space(db, n, backup_path, command)["backup_id"]
                for n in names
            }
        }

    def list_backup_versions(self, db: str, name: str, backup_path: str) -> list[int]:
        """`GET /backup/.../versions` listing analog."""
        return self._backup_versions(os.path.join(backup_path, db, name))

    def delete_backup_version(
        self, db: str, name: str, backup_path: str, version: int
    ) -> None:
        """`DELETE /backup/dbs/{db}/spaces/{space}/versions/{v}`
        (cluster_api.go:301)."""
        import shutil

        p = os.path.join(backup_path, db, name, f"v{int(version)}")
        if not os.path.isdir(p):
            raise SchemaError(f"backup version {version} not found")
        shutil.rmtree(p)

    @staticmethod
    def _backup_versions(root: str) -> list[int]:
        if not os.path.isdir(root):
            return []
        return sorted(
            int(d[1:])
            for d in os.listdir(root)
            if d.startswith("v") and d[1:].isdigit()
        )

    def set_resource_limit(self, exhausted: bool) -> None:
        """`PUT /cluster/resource_limit` (the disk-pressure write gate,
        test_module_resource_limit.py): while set, document writes on
        EVERY space reject with a typed error and reads keep serving;
        clearing re-enables. Setting the limit on an empty cluster (no
        spaces anywhere) rejects, like the reference's empty-cluster
        error. Persists with the catalog."""
        exhausted = bool(exhausted)
        if exhausted and not any(self._dbs.get(db) for db in self._dbs):
            raise SchemaError(
                "cannot set resource limit on an empty cluster"
            )
        self._resource_exhausted = exhausted
        for db, spaces in self._dbs.items():
            for name, sp in spaces.items():
                if sp is not None:
                    sp.set_resource_limit(exhausted)
        self._save_catalog()

    def _materialize(self, db: str, name: str) -> Space:
        sp = self._dbs[db][name]
        if sp is None:  # persisted by a previous session — reattach
            sp = Space.open(self.spark, self._paths[(db, name)])
            sp.set_resource_limit(self._resource_exhausted)
            self._wire(sp)
            self._dbs[db][name] = sp
        return sp

    def _wire(self, sp: Space) -> None:
        """Attach the cluster-level gates a registry-owned space serves
        under: the RBAC store (api verbs authorize against it — the
        BasicAuthMiddleware analog), the document-request limiter
        (HttpLimitMiddleware), the memory-pressure write gate, and the
        slow-search-isolation switch."""
        sp._auth = self.auth
        sp._limiter = self._limiter
        sp._memory_gate = self.check_memory_pressure
        sp._slow_search_isolation = bool(
            self._cluster_config["slow_search_isolation"][
                "slow_search_isolation_enabled"
            ]
        )

    # ------------------------------------------------------ memory pressure

    def set_memory_metrics_source(self, fn) -> None:
        """Inject the storage-memory reading ``() -> float percent used
        (0-100) | None`` — tests drive the gate deterministically with
        this; production uses the JVM executor-memory status below."""
        self._memory_metrics = fn

    def _memory_used_percent(self) -> float | None:
        """Worst executor's storage-memory utilization in percent, from
        SparkContext.getExecutorMemoryStatus (max vs remaining block-
        manager memory) — None when the metric is unavailable (gate
        then stays open: availability must not take down ingest)."""
        fn = getattr(self, "_memory_metrics", None)
        if fn is not None:
            return fn()
        # the py4j round-trip is ~ms — memoize for a second so a bulk
        # ingest loop doesn't pay it per batch (pressure moves slowly;
        # an injected test source above bypasses the cache entirely)
        import time as _time

        now = _time.monotonic()
        cached = getattr(self, "_memory_pct_cache", None)
        if cached is not None and now - cached[0] < 1.0:
            return cached[1]
        pct = self._jvm_memory_used_percent()
        self._memory_pct_cache = (now, pct)
        return pct

    def _jvm_memory_used_percent(self) -> float | None:
        """JVM heap pressure: used/max of the engine JVM's heap — the
        closest Spark analog of the PROCESS-memory percent the
        reference's PS gates on (entity/config.go). Deliberately NOT
        executor storage-memory occupancy: storage blocks are
        evictable, this engine itself fills them (index relations,
        dedup caches), and a long-running healthy
        deployment keeps them near-full by design — gating on that
        reads as a permanent spurious write outage. Heap used
        self-relieves through GC and block eviction, so crossing the
        limit tracks real allocation pressure.

        Deploy-mode scope: ``Runtime.getRuntime()`` reaches the JVM
        this Python driver is attached to — in ``local[*]`` (this
        engine's tested deployment) that IS the single engine JVM, so
        the gate observes all memory. In a multi-executor cluster it
        observes only the driver JVM; executor heap pressure would
        need a per-executor signal (e.g. the executor metrics REST
        endpoint) merged in via ``set_memory_metrics_source`` — which
        is exactly the injection point provided for it: pass a
        callable returning the fleet-max heap percent and the gate
        uses it unchanged."""
        try:
            rt = self.spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
            mx = float(rt.maxMemory())
            used = float(rt.totalMemory()) - float(rt.freeMemory())
            return 100.0 * used / mx if mx > 0 else None
        except Exception:  # py4j surface varies across deploy modes
            return None

    def check_memory_pressure(self) -> None:
        """The memory_limit write gate (entity/config.go SetMemoryLimit
        — the reference's PS rejects writes under memory pressure):
        while enabled AND the engine JVM's heap use exceeds
        ``ps_memory_limit`` percent, document writes reject with a
        typed error; reads never consult this."""
        cfg = self._cluster_config["memory_limit"]
        if not cfg.get("memory_limit_enabled"):
            return
        pct = self._memory_used_percent()
        limit = float(cfg.get("ps_memory_limit") or 0)
        if pct is not None and limit > 0 and pct > limit:
            from vearch_spark.errors import DocumentError

            raise DocumentError(
                f"memory limit exceeded: executor storage memory at "
                f"{pct:.1f}% > ps_memory_limit {limit:.0f}% — document "
                "writes are rejected until pressure clears "
                "(api.modify_memory_limit)"
            )

    def _reject_stale_space_meta(self, path: str, schema: SpaceSchema) -> None:
        meta_p = os.path.join(path, "_SPACE.json")
        if not os.path.exists(meta_p):
            return
        stored = read_json(meta_p).get("schema")
        if stored != schema.to_json():
            raise SchemaError(
                f"create_space: path {path!r} already holds a space "
                "with a DIFFERENT schema (a previous drop may have "
                "failed) — delete the directory or drop the old space "
                "first"
            )

    # -------------------------------------------------------- cluster config

    def get_cluster_config(self, key: str) -> dict:
        """`GET /config/{request_limit|memory_limit|slow_search_isolation}`
        (cluster_api.go:309-317)."""
        if key not in self._cluster_config:
            raise SchemaError(f"cluster config key not supported: {key!r}")
        return dict(self._cluster_config[key])

    def set_cluster_config(self, key: str, payload: dict) -> dict:
        """`POST /config/{...}` — merge semantics per key mirror the
        reference setters (config.go:69-191): request_limit re-arms the
        token buckets (counts ≤ 0 fall back to the 1e6 defaults),
        memory_limit stores the percents (Spark's memory manager owns
        actual enforcement), slow_search_isolation flips the switch
        feeding the scheduler-pool heuristic on every space."""
        if key not in self._cluster_config:
            raise SchemaError(f"cluster config key not supported: {key!r}")
        cfg = self._cluster_config[key]
        unknown = [k for k in payload if k not in cfg]
        if unknown:
            raise SchemaError(
                f"cluster config {key!r}: unknown keys {unknown}"
            )
        if key == "request_limit":
            if "request_limit_enabled" not in payload:
                raise SchemaError("request_limit_enabled is required")
            cfg.update(payload)
            if cfg["request_limit_enabled"]:
                for k, dflt in (
                    ("read_request_limit_count", 1000000.0),
                    ("write_request_limit_count", 1000000.0),
                ):
                    if float(cfg.get(k) or 0.0) <= 0:
                        cfg[k] = dflt
            self._limiter.configure(cfg)
        elif key == "memory_limit":
            if "memory_limit_enabled" not in payload:
                raise SchemaError("memory_limit_enabled is required")
            cfg.update(payload)
            if cfg["memory_limit_enabled"]:
                for k, dflt in (
                    ("router_memory_limit", 90),
                    ("ps_memory_limit", 90),
                ):
                    if int(cfg.get(k) or 0) <= 0:
                        cfg[k] = dflt
        else:  # slow_search_isolation
            if "slow_search_isolation_enabled" not in payload:
                raise SchemaError("slow_search_isolation_enabled is required")
            cfg.update(payload)
            enabled = bool(cfg["slow_search_isolation_enabled"])
            for spaces in self._dbs.values():
                for sp in spaces.values():
                    if sp is not None:
                        sp._slow_search_isolation = enabled
        self._save_catalog()
        return dict(cfg)
