"""Staged-artifact keys and atomic materialization.

Several catalog queries stage an expensive intermediate to parquet once per
source and reuse it (candidate pairs, near-dup cluster maps, trained BPE
segmentations, sink round-trip lakes). This module owns the two invariants
every stage needs:

1. **The key encodes everything the artifact depends on** — stage kind,
   every operator parameter and the package's own source (hashed together),
   the sf_dir, and a content fingerprint of the source parquet (size +
   nanosecond mtime). Editing a threshold, a band config or the code of a
   stage producer can therefore never alias a stale artifact: the params
   hash changes, the stage rebuilds.
2. **Materialization is atomic** — the artifact is written to a tmp sibling
   and ``os.rename``d into the keyed path, so a concurrent reader (driver
   run vs pytest) either sees the complete ``_SUCCESS``-gated directory or
   nothing; a lost race discards its own tmp dir and reuses the winner's.
   Older same-kind variants (stale fingerprints/params) are pruned on
   create so /tmp doesn't accumulate dead stages across rounds.
"""

from __future__ import annotations

import functools
import hashlib
import os
import shutil
from pathlib import Path
from typing import Callable

STAGE_ROOT = "/tmp/gridiron_sink_stage"


def source_fingerprint(sf_dir: str, table: str) -> str:
    """Cheap content fingerprint (size + nanosecond mtime) of a source
    parquet file. Folded into stage keys so a REGENERATED source (same
    path, new data — e.g. the driver refreshing testdata between rounds)
    can never alias a stale staged artifact: the key changes, the stage
    rebuilds. Nanosecond mtime so a same-size rewrite within one second
    still changes the key."""
    try:
        st = os.stat(os.path.join(sf_dir, f"{table}.parquet"))
        return f"{st.st_size}_{st.st_mtime_ns}"
    except OSError:
        return "nostat"


def source_tree_digest(root: Path) -> str:
    """md5 over every ``.py`` file under ``root``: relative path and bytes,
    in sorted path order."""
    h = hashlib.md5()
    for path in sorted(root.rglob("*.py")):
        h.update(path.relative_to(root).as_posix().encode() + b"\0")
        h.update(path.read_bytes() + b"\0")
    return h.hexdigest()


@functools.cache
def code_digest() -> str:
    """Digest of the package's own sources, computed once per process."""
    return source_tree_digest(Path(__file__).resolve().parents[1])


def params_hash(params: dict | None) -> str:
    """Deterministic 8-hex digest of the operator parameters baked into a
    staged artifact, and of the code that produced it. Keys sort, values
    repr — any config edit (threshold, shingle size, band layout, merge
    count) or any edit to the package's sources changes the digest and
    therefore the stage key."""
    blob = repr((code_digest(), sorted((params or {}).items()))).encode()
    return hashlib.md5(blob).hexdigest()[:8]


def stage_path(
    sf_dir: str, kind: str, table: str, params: dict | None = None
) -> str:
    """Fully-keyed stage directory:
    ``{kind}--{params_hash}--{sf_dir tag}--{source fingerprint}``.
    ``--`` separates fields so pruning can match "same kind, any other
    params/fingerprint" without guessing at underscores inside names."""
    tag = sf_dir.strip("/").replace("/", "_")
    return (
        f"{STAGE_ROOT}/{kind}--{params_hash(params)}--{tag}"
        f"--{source_fingerprint(sf_dir, table)}"
    )


def is_ready(stage: str) -> bool:
    return os.path.isfile(os.path.join(stage, "_SUCCESS"))


def ensure_stage(stage: str, write_fn: Callable[[str], None]) -> str:
    """Materialize ``stage`` atomically if absent and return it.

    ``write_fn(path)`` must write a complete artifact (e.g. a Spark
    ``.write.parquet(path)``, which drops ``_SUCCESS`` last). It writes to
    a tmp sibling; a single ``os.rename`` publishes the directory, so no
    reader ever observes a partial stage. If a concurrent writer wins the
    rename race, our tmp dir is discarded and the winner's artifact is
    used — both are deterministic recomputes of the same key, so either
    is correct."""
    if is_ready(stage):
        return stage
    os.makedirs(STAGE_ROOT, exist_ok=True)
    tmp = f"{stage}.tmp.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    write_fn(tmp)
    try:
        os.rename(tmp, stage)
    except OSError:
        # Either we lost the race (a complete artifact already sits at the
        # key) or the rename genuinely failed (EACCES, EXDEV after a
        # STAGE_ROOT relocation). Only the former is benign — verify the
        # published artifact exists before swallowing the error, so a real
        # failure surfaces here at publication, not later as an opaque
        # reader-side miss.
        shutil.rmtree(tmp, ignore_errors=True)
        if not is_ready(stage):
            raise
    prune_stale_variants(stage)
    return stage


def prune_stale_variants(stage: str) -> None:
    """Delete older variants of the same stage kind *for the same corpus*
    (same sf_dir tag, different params hash or source fingerprint). The
    current key is never touched, and neither is any ``.tmp.`` dir — that
    may be a concurrent writer mid-write; a tmp dir orphaned by a crash is
    reclaimed by its owner's next ensure_stage call for the same pid, or
    harmlessly ignored.

    Matching on kind alone would let a pytest run (SF_SMALL corpus) rmtree
    the driver corpus's live stage out from under a concurrent reader —
    Spark lists files at plan time and reads at task time, so a
    cross-corpus prune is a FileNotFoundException window, and alternating
    corpora (the catalog profiler's x1/x3/x10 scale dirs) would
    thrash-rebuild each other's artifacts. Variants of OTHER corpora are
    left alone; only the same corpus's stale params/fingerprints are
    reclaimed."""
    base = os.path.basename(stage)
    fields = base.split("--")
    if len(fields) < 4:
        return
    kind, tag = fields[0], fields[2]
    try:
        siblings = os.listdir(STAGE_ROOT)
    except OSError:
        return
    for name in siblings:
        if name == base or ".tmp." in name:
            continue
        sib = name.split("--")
        if len(sib) >= 4 and sib[0] == kind and sib[2] == tag:
            shutil.rmtree(os.path.join(STAGE_ROOT, name), ignore_errors=True)
