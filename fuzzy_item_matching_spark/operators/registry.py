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

Local paths here; on a cluster ``root`` is any Hadoop-FS URI that
``save`` accepts (dbfs:/, s3://...) — the JSON sidecars would move to
the same FS via the JVM FileSystem API.
"""

from __future__ import annotations

import json
import os
import re

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
        for entry in sorted(os.listdir(d)):
            if re.fullmatch(r"v\d+", entry):
                with open(os.path.join(d, entry, "meta.json")) as f:
                    out.append(json.load(f))
        return sorted(out, key=lambda m: m["version"])

    def register(self, name: str, model) -> int:
        """Save ``model`` as the next version of ``name`` (stage None).
        Returns the new version number."""
        vs = self.versions(name)
        version = (vs[-1]["version"] + 1) if vs else 1
        model.write().overwrite().save(self._model_path(name, version))
        self._write_meta(name, {"version": version, "stage": NONE})
        return version

    def promote(self, name: str, version: int, stage: str = PRODUCTION) -> None:
        """Move ``version`` to ``stage``; any version currently holding
        that stage is archived first (the reference's archive-then-
        promote flow)."""
        metas = {m["version"]: m for m in self.versions(name)}
        if version not in metas:
            raise ValueError(f"{name} v{version} is not registered")
        for m in metas.values():
            if m["stage"] == stage and m["version"] != version:
                m["stage"] = ARCHIVED
                self._write_meta(name, m)
        metas[version]["stage"] = stage
        self._write_meta(name, metas[version])

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
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(meta, f)
