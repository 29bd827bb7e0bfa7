"""Seeded retail-catalog generator for the benchmark.

Every input the engine sees comes from here: catalogs of products with
a name, a description, a price and a 64-d embedding, plus the golden
map of which items are the same real-world product ("entity"). The
same seed gives byte-identical parquet files; the engine only ever
reads those files.

Shape of the data:
- entities belong to families (brand x product type); embeddings are
  a family centre plus a per-entity offset, so items of one family are
  near each other (hard negatives) and copies of one entity are nearer
  still (matches);
- noisy copies carry typos, dropped or swapped tokens, reformatted
  model numbers, a price jitter and embedding noise.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
FAMILY_SCALE = 30.0  # sd of family centres per dimension
ENTITY_SCALE = 0.15  # sd of an entity's offset from its family centre
COPY_NOISE = 0.08  # sd of the embedding noise of one noisy copy
STALE_NOISE = 0.3  # extra embedding noise of a stale copy

BRANDS = [
    "acme", "zenith", "orion", "nordic", "vertex", "lumen", "pioneer",
    "apex", "summit", "delta", "kestrel", "quasar", "harbor", "falcon",
    "meridian", "cobalt", "aurora", "tundra", "sierra", "nimbus",
    "vantage", "halcyon", "granite", "ember", "solstice", "cypress",
    "mosaic", "pinnacle", "voyager", "atlas",
]
TYPES = [
    "laptop", "headphones", "camera", "monitor", "speaker", "router",
    "keyboard", "mouse", "tablet", "printer", "projector", "microphone",
    "charger", "drone", "smartwatch", "television", "soundbar", "webcam",
    "scanner", "thermostat",
]
ADJECTIVES = [
    "wireless", "portable", "compact", "professional", "ultra", "slim",
    "smart", "digital", "premium", "mini", "rugged", "gaming", "studio",
    "bluetooth", "ergonomic", "waterproof", "foldable", "hybrid",
    "rechargeable", "modular", "outdoor", "travel", "dual", "quiet",
]
COLORS = ["black", "white", "silver", "red", "blue", "graphite", "gold", "green"]
FEATURES = [
    "usb-c charging", "long battery life", "aluminium body", "voice control",
    "fast pairing", "touch controls", "auto focus", "night mode",
    "dual band", "backlit keys", "hdr support", "low latency",
    "app control", "wall mount", "carry case", "spare cable",
]
LETTERS = "ABCDEFGHJKLMNPRSTVWXZ"


class Entities:
    """Ground-truth products, column-wise."""

    def __init__(self, rng: np.random.Generator, n: int, centres: np.ndarray):
        n_fam = len(centres)
        self.family = rng.integers(0, n_fam, n)
        self.brand = self.family // len(TYPES)
        self.ptype = self.family % len(TYPES)
        self.adj = rng.integers(0, len(ADJECTIVES), (n, 2))
        self.color = rng.integers(0, len(COLORS), n)
        self.feat = rng.integers(0, len(FEATURES), (n, 2))
        self.model = [
            f"{LETTERS[a]}{LETTERS[b]}-{d}"
            for a, b, d in zip(
                rng.integers(0, len(LETTERS), n),
                rng.integers(0, len(LETTERS), n),
                rng.integers(100, 10000, n),
            )
        ]
        self.price = np.round(np.exp(rng.uniform(np.log(10), np.log(2000), n)), 2)
        self.emb = centres[self.family] + rng.normal(0, ENTITY_SCALE, (n, DIM))


def family_centres(rng: np.random.Generator) -> np.ndarray:
    return rng.normal(0, FAMILY_SCALE, (len(BRANDS) * len(TYPES), DIM))


def _typo(rng: np.random.Generator, tok: str) -> str:
    if len(tok) < 3:
        return tok
    i = int(rng.integers(1, len(tok)))
    kind = int(rng.integers(0, 3))
    if kind == 0:  # deletion
        return tok[:i] + tok[i + 1:]
    ch = "abcdefghijklmnopqrstuvwxyz"[int(rng.integers(0, 26))]
    if kind == 1:  # substitution
        return tok[:i] + ch + tok[i + 1:]
    return tok[:i] + ch + tok[i:]  # insertion


def _reformat_model(rng: np.random.Generator, model: str) -> str:
    head, digits = model.split("-")
    return [f"{head}{digits}", f"{head.lower()} {digits}", f"{head} {digits}"][
        int(rng.integers(0, 3))
    ]


def render(ents: Entities, idx: np.ndarray, rng: np.random.Generator | None):
    """Names, descriptions, prices and embeddings for entities ``idx``;
    ``rng`` set => each row is an independent noisy copy."""
    names, descs = [], []
    for i in idx:
        toks = [
            BRANDS[ents.brand[i]], ADJECTIVES[ents.adj[i, 0]],
            ADJECTIVES[ents.adj[i, 1]], TYPES[ents.ptype[i]], ents.model[i],
            COLORS[ents.color[i]],
        ]
        if rng is not None:
            if rng.random() < 0.4:
                toks[4] = _reformat_model(rng, toks[4])
            for _ in range(int(rng.integers(1, 3))):
                j = int(rng.integers(0, len(toks)))
                toks[j] = _typo(rng, toks[j])
            if rng.random() < 0.3:  # drop an adjective or the colour
                del toks[[1, 2, 5][int(rng.integers(0, 3))]]
            if rng.random() < 0.3:  # swap two adjacent tokens
                j = int(rng.integers(0, len(toks) - 1))
                toks[j], toks[j + 1] = toks[j + 1], toks[j]
        names.append(" ".join(toks))
        descs.append(
            f"{ADJECTIVES[ents.adj[i, 0]]} {TYPES[ents.ptype[i]]} with "
            f"{FEATURES[ents.feat[i, 0]]} and {FEATURES[ents.feat[i, 1]]}"
        )
    price = ents.price[idx]
    emb = ents.emb[idx]
    if rng is not None:
        price = np.round(price * rng.uniform(0.95, 1.05, len(idx)), 2)
        emb = emb + rng.normal(0, COPY_NOISE, emb.shape)
    return names, descs, price, emb.astype(np.float32)


def make_stale(rng: np.random.Generator, emb: np.ndarray) -> None:
    """A fifth of the rows get a stale embedding, beyond the LSH
    threshold from their original: only the name join finds those."""
    stale = rng.permutation(len(emb))[: len(emb) // 5]
    emb[stale] += rng.normal(0, STALE_NOISE, (len(stale), DIM)).astype(np.float32)


def items_table(ids, names, descs, price, emb) -> pa.Table:
    emb = np.asarray(emb, dtype=np.float32)
    return pa.table(
        {
            "id": pa.array(np.asarray(ids, dtype=np.int64)),
            "name": pa.array(names, pa.string()),
            "description": pa.array(descs, pa.string()),
            "price": pa.array(np.asarray(price, dtype=np.float64)),
            "emb": pa.FixedSizeListArray.from_arrays(
                pa.array(emb.reshape(-1)), DIM
            ).cast(pa.list_(pa.float32())),
        }
    )


def write(table: pa.Table, out_dir: str, name: str) -> str:
    """``<out_dir>/<name>.parquet`` as one file, the layout
    ``tables.load_table`` reads. Fixed writer options keep the bytes
    seed-determined."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(table, path, compression="snappy")
    return path


def batch_inputs(seed: int, n_left: int, out_dir: str) -> dict:
    """Two catalogs to resolve: right holds noisy copies of 80 % of left
    plus distractors from the same families (0.25 x n_left)."""
    rng = np.random.default_rng([seed, 1])
    centres = family_centres(rng)
    n_dis = n_left // 4
    ents = Entities(rng, n_left + n_dis, centres)
    left_idx = np.arange(n_left)
    copied = np.sort(rng.choice(n_left, int(0.8 * n_left), replace=False))
    right_idx = np.concatenate([copied, np.arange(n_left, n_left + n_dis)])
    right_idx = right_idx[rng.permutation(len(right_idx))]
    left_ids = left_idx
    right_ids = 1_000_000 + np.arange(len(right_idx))
    write(items_table(left_ids, *render(ents, left_idx, None)),
          out_dir, "left")
    names, descs, price, emb = render(ents, right_idx, rng)
    make_stale(rng, emb)
    write(items_table(right_ids, names, descs, price, emb), out_dir, "right")
    is_copy = right_idx < n_left
    golden = pa.table(
        {"id_a": pa.array(right_idx[is_copy].astype(np.int64)),
         "id_b": pa.array(right_ids[is_copy].astype(np.int64))}
    ).sort_by([("id_a", "ascending")])
    write(golden, out_dir, "golden")
    return {"left": n_left, "right": len(right_idx), "golden": golden.num_rows}


def stream_inputs(seed: int, n_stored: int, n_batches: int, batch_size: int,
                  out_dir: str) -> dict:
    """A stored catalog, a labelled training catalog for the first
    model, and ``n_batches`` arrival batches. An arrival is a noisy copy
    of a stored item (70 %), a new product (15 %) or an update of a
    stored key with a new price (15 %). ``entity`` columns are the
    golden map: two items match when their entities are equal."""
    rng = np.random.default_rng([seed, 3])
    centres = family_centres(rng)
    n_new = n_batches * batch_size
    ents = Entities(rng, n_stored + n_new, centres)
    stored_idx = np.arange(n_stored)
    write(items_table(stored_idx, *render(ents, stored_idx, None)),
          out_dir, "stored")
    # training arrivals: copies of the first 1/4 of the stored items
    train_idx = np.arange(n_stored // 4)
    write(items_table(2_000_000 + train_idx, *render(ents, train_idx, rng)),
          out_dir, "train")
    n_copy = int(0.7 * batch_size)
    n_upd = int(0.15 * batch_size)
    n_fresh = batch_size - n_copy - n_upd
    cols = {k: [] for k in ("batch", "id", "entity", "kind")}
    tables = []
    next_id, next_new = 1_000_000, n_stored
    for b in range(n_batches):
        copy_idx = rng.choice(n_stored, n_copy, replace=False)
        upd_idx = rng.choice(n_stored, n_upd, replace=False)
        fresh_idx = np.arange(next_new, next_new + n_fresh)
        next_new += n_fresh
        names, descs, price, emb = render(ents, np.concatenate([copy_idx, fresh_idx]), rng)
        make_stale(rng, emb[:n_copy])
        u_names, u_descs, u_price, u_emb = render(ents, upd_idx, None)
        u_price = np.round(u_price * 1.1, 2)
        ids = np.concatenate([
            np.arange(next_id, next_id + n_copy + n_fresh), upd_idx,
        ])
        next_id += n_copy + n_fresh
        tables.append(items_table(
            ids, names + u_names, descs + u_descs,
            np.concatenate([price, u_price]), np.concatenate([emb, u_emb]),
        ))
        cols["batch"].append(np.full(len(ids), b, np.int32))
        cols["id"].append(ids)
        cols["entity"].append(np.concatenate([copy_idx, fresh_idx, upd_idx]))
        cols["kind"].append(np.repeat([0, 1, 2], [n_copy, n_fresh, n_upd]).astype(np.int8))
    for b, t in enumerate(tables):
        write(t, os.path.join(out_dir, "arrivals"), f"b{b:04d}")
    golden = pa.table({
        "batch": pa.array(np.concatenate(cols["batch"])),
        "id": pa.array(np.concatenate(cols["id"]).astype(np.int64)),
        "entity": pa.array(np.concatenate(cols["entity"]).astype(np.int64)),
        "kind": pa.array(np.concatenate(cols["kind"])),
    })
    write(golden, out_dir, "golden")
    return {"stored": n_stored, "batches": n_batches, "batch_size": batch_size}
