"""Worker-side loading of the prescan dictionaries.

The Spark equivalent of the reference's prescanSave/prescanLoad boundary
(bin/wikiprep:482-512): pass 1 writes the dictionaries as a tagged parquet
table (distributed write, no driver roundtrip); every transform worker
side-loads it with pyarrow on first use and caches it per process — the
same "read-only shared table" architecture the reference built on
BerkeleyDB files + OS page cache.  On a cluster the path lives on the
shared filesystem / object store; in local mode it's a temp dir.
"""

from __future__ import annotations

import glob
import os

_CACHE: dict = {}


def load_env_from_parquet(path: str):
    """Load (title2id, redir, template_bodies) dicts from the tagged
    dictionary parquet directory. Cached per worker process."""
    if path in _CACHE:
        return _CACHE[path]
    import pyarrow.parquet as pq

    t2i: dict = {}
    red: dict = {}
    bodies: dict = {}
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    for f in files:
        tbl = pq.read_table(f, columns=["kind", "k", "v"])
        for kind, k, v in zip(
            tbl.column("kind").to_pylist(),
            tbl.column("k").to_pylist(),
            tbl.column("v").to_pylist(),
        ):
            if kind == "t":
                t2i[k] = int(v)
            elif kind == "r":
                red[k] = v
            else:
                bodies[int(k)] = v
    env = (t2i, red, bodies)
    _CACHE[path] = env
    return env
