"""Seeded workload inputs: the corpus each workload resolves, its labeled
pairs, and the lifecycle request payloads applied to the standing
resolution.

Everything here is a pure function of (workload, seed): the same seed gives
byte-identical rows, labels and requests. The engine only ever sees the
generated rows (through parquet) and the request frames.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from entity_resolution_spark.config import PipelineConfig
from entity_resolution_spark.datagen import (
    FILES_SCHEMA,
    generate_labeled_pairs_pdf,
    generate_repo_files_pdf,
    group_files,
)
from entity_resolution_spark.functions.text import normalize_basename, normalize_content
from entity_resolution_spark.operators.blocking import LEN_BAND

# Sizes are set by the run budget of a 4-core host, not by the data plane:
# one resolve() costs ~12 s of Spark control plane even on a few hundred
# rows, so a bulk run affords one resolve and a lifecycle run one prior
# build plus one round of the four verbs (see perfbench/README.md, "Sizing").
BULK_GROUPS = 600  # ~1,200 rows, ~3.5k candidate pairs
HOT_GROUPS = 150  # datagen groups mixed into the lifecycle corpus, for the labels
HOT_FILES = 300  # distinct same-basename, same-length files -> one hot block
HOT_CHARS = 1_000  # normalized length of every hot file (one length band)
BOILERPLATE_COPIES = 500  # one file repeated -> one mega sha group
# lifecycle lowers the tiling cap so the 300-row path blocks are tiled
# (ceil(300/128) = 3 salt groups); at the default cap of 2,000 a tiled block
# implies >= 2M candidate pairs, which no run in the budget can afford
HOT_MAX_BLOCK = 128

HOT_ID_BASE = 50_000_000  # hot/boilerplate ids: disjoint from datagen ids
FRESH_ID_BASE = 60_000_000  # fold-delta mirror ids
FOLD_FRAC = 0.01  # fold delta: ~1% of the corpus
RETRACT_FRAC = 0.01  # deletion batch: ~1% of the corpus
REVIEW_VERDICTS = 36  # clerical verdicts per review request
RETHRESHOLD = 70  # below the default 80, so suspect pairs are re-scored


@dataclass
class Corpus:
    files: pd.DataFrame  # FILES_SCHEMA rows
    labels: pd.DataFrame  # (left_id, right_id, is_match, block_key)
    cfg: PipelineConfig
    n_groups: int  # datagen groups in files (fresh fold groups start here)


def stream(seed: int, k: int) -> np.random.RandomState:
    """The k-th random stream of a run; any integer seed is accepted."""
    return np.random.RandomState((seed + k) % 2**32)


def build(workload: str, seed: int) -> Corpus:
    if workload == "bulk":
        files = generate_repo_files_pdf(BULK_GROUPS, seed)
        labels = generate_labeled_pairs_pdf(BULK_GROUPS, seed)
        return Corpus(files, labels, PipelineConfig(), BULK_GROUPS)
    if workload == "lifecycle":
        rng = stream(seed, 0)
        files = pd.concat(
            [
                generate_repo_files_pdf(HOT_GROUPS, seed),
                _hot_block_files(rng),
                _boilerplate_files(rng),
            ],
            ignore_index=True,
        )
        labels = generate_labeled_pairs_pdf(HOT_GROUPS, seed)
        cfg = PipelineConfig(max_block_size=HOT_MAX_BLOCK)
        return Corpus(files, labels, cfg, HOT_GROUPS)
    raise ValueError(f"unknown workload {workload!r}")


def _hot_block_files(rng: np.random.RandomState) -> pd.DataFrame:
    """HOT_FILES distinct files that all share one path blocking key: same
    lang, same normalized basename ('settings'), same normalized length.
    Identifiers are unique per file, so token-Jaccard stays low and almost
    no pair survives the phase-1 bound: candidates and phase 1 do the work,
    phase 2 does little."""
    rows = []
    for i in range(HOT_FILES):
        stmts = [
            f"opt_{i}_{j} = load_{i}_{j}(env_{int(rng.randint(10**6))})"
            for j in range(40)
        ]
        text = normalize_content("\n".join([f"# settings module {i}", *stmts]))
        text = text[: HOT_CHARS - 2].rstrip()
        text += " #" + "x" * (HOT_CHARS - len(text) - 2)
        fid = HOT_ID_BASE + i
        rows.append(
            {
                "file_id": fid,
                "repo": f"hot{i % 37}/service{i % 11}",
                "path": f"deploy/env{i}/settings.py",
                "commit": f"{fid:040x}",
                "lang": "python",
                "content": text,
            }
        )
    return pd.DataFrame(rows, columns=[f.name for f in FILES_SCHEMA.fields])


def _boilerplate_files(rng: np.random.RandomState) -> pd.DataFrame:
    """One vendored file copied BOILERPLATE_COPIES times under different
    repos: a single sha group the exact-duplicate collapse must absorb, and
    one mega-component for clustering."""
    body = "\n".join(
        f"from .mod_{int(rng.randint(10**6))} import handler_{k}" for k in range(24)
    )
    rows = []
    for i in range(BOILERPLATE_COPIES):
        fid = HOT_ID_BASE + HOT_FILES + i
        rows.append(
            {
                "file_id": fid,
                "repo": f"vendor{i % 53}/pkg{i}",
                "path": f"pkg{i}/__init__.py",
                "commit": f"{fid:040x}",
                "lang": "python",
                "content": body,
            }
        )
    return pd.DataFrame(rows, columns=[f.name for f in FILES_SCHEMA.fields])


def properties(corpus: Corpus) -> dict[str, float]:
    """The input properties each workload exists for, computed from the
    generated rows alone: the largest path block among sha-group
    representatives (blocking runs after the exact-duplicate collapse; a
    path key is lang + normalized basename + a LEN_BAND-wide length band,
    each row also keying band + 1) against the tiling cap, and how often
    the most repeated content occurs."""
    files = corpus.files
    reps = files.sort_values("file_id").drop_duplicates("content")
    base = reps["path"].map(normalize_basename)
    band = reps["content"].map(lambda c: len(normalize_content(c)) // LEN_BAND)
    keyed = pd.concat(
        [pd.DataFrame({"lang": reps["lang"], "base": base, "band": band + k}) for k in (0, 1)]
    )
    keyed = keyed[keyed["base"] != ""]
    max_block = int(keyed.groupby(["lang", "base", "band"]).size().max())
    return {
        "max_path_block": max_block,
        "max_path_block_over_cap": max_block / corpus.cfg.max_block_size,
        "top_digest_copies": int(files.groupby("content").size().max()),
        "rows": len(files),
    }


# ---------------------------------------------------------------------------
# lifecycle requests against the standing resolution of `files`
# ---------------------------------------------------------------------------


def fold_delta(corpus: Corpus, seed: int) -> pd.DataFrame:
    """~FOLD_FRAC new rows: half mirrors of existing files (same content,
    new repo path -> they join an existing sha group) and half fresh
    datagen groups past the corpus (new content sharing old basenames)."""
    rng = stream(seed, 1)
    n = max(2, int(len(corpus.files) * FOLD_FRAC))
    pick = np.sort(rng.choice(len(corpus.files), n // 2, replace=False))
    mirrors = corpus.files.iloc[pick].copy()
    mirrors["file_id"] = FRESH_ID_BASE + np.arange(len(mirrors))
    mirrors["path"] = "mirror/" + mirrors["path"]
    fresh: list[dict] = []
    gid = corpus.n_groups
    while len(fresh) < n - len(mirrors):
        fresh.extend(group_files(gid, seed))
        gid += 1
    return pd.concat([mirrors, pd.DataFrame(fresh)], ignore_index=True)[
        [f.name for f in FILES_SCHEMA.fields]
    ]


def retract_ids(corpus: Corpus, seed: int) -> list[int]:
    """~RETRACT_FRAC deleted ids; half are sha-group representatives (the
    minimum id of a group of identical contents), so promotion runs."""
    rng = stream(seed, 2)
    files = corpus.files
    n = max(2, int(len(files) * RETRACT_FRAC))
    groups = files.groupby("content")["file_id"].agg(["min", "count"])
    groups = groups[groups["count"] > 1].sort_values(["count", "min"], ascending=[False, True])
    reps = groups["min"].to_numpy()
    # the largest group's representative always goes: on lifecycle that is
    # the boilerplate file, so promotion runs inside the mega sha group
    chosen = {int(reps[0])} if len(reps) else set()
    rest = rng.choice(reps[1:], min(len(reps) - 1, n // 2 - 1), replace=False) if len(reps) > 1 else []
    chosen.update(int(x) for x in rest)
    others = np.setdiff1d(files["file_id"].to_numpy(), list(chosen))
    chosen.update(rng.choice(others, n - len(chosen), replace=False).tolist())
    return sorted(int(x) for x in chosen)


def review_verdicts(scored: pd.DataFrame, seed: int, threshold: float) -> pd.DataFrame:
    """REVIEW_VERDICTS clerical verdicts from the prior's scored pairs:
    half sever a matched pair ('non_match'), half confirm a rejected
    candidate ('match')."""
    rng = stream(seed, 3)
    half = REVIEW_VERDICTS // 2
    matched = scored[scored["score"] >= threshold].sort_values(["left_id", "right_id"])
    rejected = scored[scored["score"] < threshold].sort_values(["left_id", "right_id"])
    parts = []
    for frame, verdict in ((matched, "non_match"), (rejected, "match")):
        take = frame.iloc[rng.choice(len(frame), min(half, len(frame)), replace=False)]
        parts.append(take[["left_id", "right_id"]].assign(decision=verdict))
    return pd.concat(parts, ignore_index=True).astype({"left_id": "int64", "right_id": "int64"})


