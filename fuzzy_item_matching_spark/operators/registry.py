"""Model registry (M7): named versions + stage promotion, no MLflow.

The reference registers its fitted model in the MLflow registry and
promotes it with the archive-then-promote flow — existing Production
versions are moved to Archived before the new version takes the stage
(`03_Train & Deploy Model.py:324-343`). This environment has no MLflow,
so the same contract is a thin store over ``PipelineModel.save``:

    <root>/<name>/v<N>/model/     PipelineModel (or any MLWritable)
    <root>/<name>/v<N>/meta.json  {"version": N, "stage": "..."}
    aliases live IN the per-version meta — one file per version, no
    global state to corrupt; stage lookup scans the (few) versions.

Crash and concurrency safety: a register claims ``v<N>`` with an
exclusive ``mkdir`` (a concurrent register gets the next N), and a
version without a ``meta.json`` yet is invisible. Metas are written
to a temp file and renamed into place, so a reader never sees a torn
one. A promote marks the new holder before it archives the old one,
so a crash in between leaves two holders and ``resolve`` serves the
higher version — never none.

Local paths here; on a cluster ``root`` is any Hadoop-FS URI that
``save`` accepts (dbfs:/, s3://...) — the JSON sidecars would move to
the same FS via the JVM FileSystem API.
"""

from __future__ import annotations

import json
import os
import re
import tempfile

from pyspark.ml import PipelineModel

PRODUCTION = "Production"
STAGING = "Staging"
ARCHIVED = "Archived"
NONE = "None"


class ModelRegistry:
    def __init__(self, root: str):
        self.root = root
        # (model path, loader) -> (meta mtime_ns, loaded model)
        self._loaded: dict[tuple, tuple[int, object]] = {}
        os.makedirs(root, exist_ok=True)

    def _name_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _meta_path(self, name: str, version: int) -> str:
        return os.path.join(self._name_dir(name), f"v{version}", "meta.json")

    def _model_path(self, name: str, version: int) -> str:
        return os.path.join(self._name_dir(name), f"v{version}", "model")

    def versions(self, name: str) -> list[dict]:
        """All registered versions of ``name``, ascending."""
        d = self._name_dir(name)
        if not os.path.isdir(d):
            return []
        out = []
        for entry in os.listdir(d):
            meta = os.path.join(d, entry, "meta.json")
            # a claimed version has no meta until its register finishes
            if re.fullmatch(r"v\d+", entry) and os.path.exists(meta):
                with open(meta) as f:
                    out.append(json.load(f))
        return sorted(out, key=lambda m: m["version"])

    def register(self, name: str, model) -> int:
        """Save ``model`` as the next version of ``name`` (stage None).
        Returns the new version number."""
        vs = self.versions(name)
        version = (vs[-1]["version"] + 1) if vs else 1
        os.makedirs(self._name_dir(name), exist_ok=True)
        while True:
            try:
                os.mkdir(os.path.dirname(self._meta_path(name, version)))
                break
            except FileExistsError:  # claimed by a concurrent register
                version += 1
        model.write().overwrite().save(self._model_path(name, version))
        self._write_meta(name, {"version": version, "stage": NONE})
        return version

    def promote(self, name: str, version: int, stage: str = PRODUCTION) -> None:
        """Move ``version`` to ``stage`` and archive any other version
        holding it (the reference's archive-then-promote flow). The new
        holder is written first, so a crash before the archive writes
        still leaves ``stage`` resolvable."""
        metas = {m["version"]: m for m in self.versions(name)}
        if version not in metas:
            raise ValueError(f"{name} v{version} is not registered")
        metas[version]["stage"] = stage
        self._write_meta(name, metas[version])
        for m in metas.values():
            if m["stage"] == stage and m["version"] != version:
                m["stage"] = ARCHIVED
                self._write_meta(name, m)

    def resolve(self, name: str, version: int | None = None,
                stage: str | None = None) -> int:
        """Version number for an explicit version or a stage alias."""
        if (version is None) == (stage is None):
            raise ValueError("pass exactly one of version= or stage=")
        if version is not None:
            if not os.path.exists(self._meta_path(name, version)):
                raise ValueError(f"{name} v{version} is not registered")
            return version
        holders = [m["version"] for m in self.versions(name) if m["stage"] == stage]
        if not holders:
            raise ValueError(f"{name} has no version in stage {stage!r}")
        return max(holders)

    def load(self, name: str, version: int | None = None,
             stage: str | None = None, loader=PipelineModel):
        """Load a version (``models:/name/Production`` equivalent is
        ``load(name, stage=PRODUCTION)``).

        The stage is resolved from the metas on every call, so a promote
        is seen at once; the model itself is loaded once per model path
        and meta mtime (a re-register rewrites the meta), because
        ``loader.load`` runs Spark jobs. Callers share the returned
        model and must not mutate it."""
        v = self.resolve(name, version=version, stage=stage)
        path = self._model_path(name, v)
        stamp = os.stat(self._meta_path(name, v)).st_mtime_ns
        hit = self._loaded.get((path, loader))
        if hit is None or hit[0] != stamp:
            hit = (stamp, loader.load(path))
            self._loaded[(path, loader)] = hit
        return hit[1]

    def _write_meta(self, name: str, meta: dict) -> None:
        path = self._meta_path(name, meta["version"])
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), suffix=".tmp")
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(meta, f)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, path)
        except BaseException:
            os.unlink(tmp)
            raise
