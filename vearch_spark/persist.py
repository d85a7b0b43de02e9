"""One JSON reader and writer for every engine file, and the one index
dump format.

Every engine metadata file — ``_SPACE.json``, ``_CURRENT``, the
``manifests/*.json`` archives, ``indexes/meta.json``, each index dump's
``params.json``, ``_CATALOG.json`` and a backup's ``schema.json`` — is
read by :func:`read_json` and written by :func:`write_json`, so a
damaged file fails at load with a :class:`SchemaError` that names it.

An index dump (the reference's ``Engine::Dump``, engine.cc:1246) is
written by :func:`save_index` and reopened by :func:`load_index`; the
layout is documented on ``IVFFlatIndex.save``.
"""

from __future__ import annotations

import json
import os

import numpy as np

from vearch_spark.errors import SchemaError, SearchError, VearchSparkError


def read_json(path: str) -> dict:
    """The JSON object stored at ``path``. A missing or undecodable
    file, or one that holds anything but an object, raises
    :class:`SchemaError` naming the file."""
    try:
        with open(path) as fh:
            obj = json.load(fh)
    except (OSError, ValueError) as e:  # JSONDecodeError is a ValueError
        raise SchemaError(f"cannot read {path}: {e}") from e
    if not isinstance(obj, dict):
        raise SchemaError(f"{path} does not hold a JSON object")
    return obj


def write_json(path: str, obj: dict) -> None:
    """Write ``obj`` to ``path`` atomically: a sibling ``.tmp`` file
    renamed over it, so a reader sees the old file or the new one,
    never a torn one."""
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)


def save_index(index, path: str, rel_dir: str, part_col: str) -> None:
    """Dump ``index``: its base relation written ``partitionBy(part_col)``
    under ``rel_dir`` (pending writes folded into it first), one
    ``<name>.npy`` per name in ``index._arrays``, and ``params.json``."""
    arrays = {name: getattr(index, name) for name in index._arrays}
    if index._base is None or any(a is None for a in arrays.values()):
        raise SearchError("index not trained")
    if index.pending:
        index.fold()
    os.makedirs(path, exist_ok=True)
    index._base.write.mode("overwrite").partitionBy(part_col).parquet(
        os.path.join(path, rel_dir)
    )
    for name, a in arrays.items():
        np.save(os.path.join(path, f"{name}.npy"), a)
    write_json(
        os.path.join(path, "params.json"),
        {
            "kind": type(index).__name__,
            "params": index._params(),
            "fitted": {name: getattr(index, name) for name in index._fitted},
        },
    )


def load_index(cls, spark, path: str, rel_dir: str):
    """Reopen a :func:`save_index` dump of ``cls``: returns the index
    (constructed from the dumped ``_params()``, arrays and fitted
    values restored) and the lazily read relation. A dump of another
    class, one missing ``params.json``, an array or the relation
    directory, or one that still holds a ``staged/`` buffer of unfolded
    rows (an older format), raises :class:`SchemaError`."""
    if os.path.exists(os.path.join(path, "staged")):
        raise SchemaError(f"{path} holds staged/: a dump of unfolded rows is not a base")
    meta = read_json(os.path.join(path, "params.json"))
    if meta.get("kind") != cls.__name__:
        raise SchemaError(
            f"{path} holds a {meta.get('kind')!r} dump, not {cls.__name__}"
        )
    need = [f"{name}.npy" for name in cls._arrays] + [rel_dir]
    missing = [n for n in need if not os.path.exists(os.path.join(path, n))]
    if missing:
        raise SchemaError(f"incomplete {cls.__name__} dump at {path}: no {missing}")
    try:
        index = cls(**meta["params"])
        for name in cls._arrays:
            setattr(index, name, np.load(os.path.join(path, f"{name}.npy")))
        for name in cls._fitted:
            setattr(index, name, meta["fitted"][name])
    except (KeyError, TypeError, ValueError, OSError, VearchSparkError) as e:
        raise SchemaError(f"unreadable {cls.__name__} dump at {path}: {e!r}") from e
    return index, spark.read.parquet(os.path.join(path, rel_dir))
