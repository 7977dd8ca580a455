"""Writer modules (reference W1–W10, SURVEY.md §2.4) as DataFrame transforms.

Module contract: ``transform(df, config) -> dict[str, DataFrame]`` — one
DataFrame per output dataset group (most modules emit one), plus optional
``aggregates(df, config)`` for job-summary metadata (T6). The registry
mirrors the reference's WriterRegistrar (src/WriterRegistrar.h): schema id →
module, including the example no-op writer under id "test"
(TemplateWriter.cpp:17-18).
"""

from __future__ import annotations

from . import ad00, al00, da00, ep01, ev44, f144, mdat, se00, tdct, template  # noqa: F401

# schema id → module (reference: static registration, e.g. f144_Writer.cpp:304-305)
REGISTRY = {
    "f144": f144,
    "ev44": ev44,
    "se00": se00,
    "ad00": ad00,
    "da00": da00,
    "al00": al00,
    "ep01": ep01,
    "tdct": tdct,
    "mdat": mdat,
    "test": template,  # the reference's example no-op writer
}


def get_module(module_id: str):
    try:
        return REGISTRY[module_id]
    except KeyError:
        raise KeyError(f"unknown writer module id: {module_id!r}") from None


def accepts_repeated_timestamps(module_id: str) -> bool:
    """F4 opt-in flag (reference WriterModuleBase.h:36,55): ev44 accepts
    repeated timestamps; scalar-log-style modules do not."""
    return getattr(REGISTRY[module_id], "ACCEPTS_REPEATED_TIMESTAMPS", False)


def group_streams(streams):
    """Split stream bindings into (groups, singles) for the 1000-source
    fast path: same-module, same-shape-config bindings whose transform
    keeps sources apart ("GROUPABLE": row-wise, or per-source windows
    like ev44's index) run, in groups of size ≥ 2, as ONE filter +
    transform + partitioned write per module instead of one Spark-job
    pipeline per source. Identity keys
    (topic/source) name the stream without changing the transform, so they
    are excluded from the shape key. Modules with per-source driver state
    (cue recurrences) or statics stay on the per-binding path."""
    import json as _json

    groups: dict[tuple[str, str], list] = {}
    singles: list = []
    for b in streams:
        module = REGISTRY.get(b.module)
        cfg = b.config or {}
        if (
            module is not None
            and getattr(module, "GROUPABLE", False)
            and not cfg.get("cue_interval")
            and not hasattr(module, "statics")
        ):
            shape = {k: v for k, v in cfg.items() if k not in ("topic", "source")}
            groups.setdefault(
                (b.module, _json.dumps(shape, sort_keys=True)), []
            ).append(b)
        else:
            singles.append(b)
    # The grouped write keys its partition-dir renames and aggregate rows by
    # source name, so a source may appear at most ONCE per group. Two
    # bindings with the same (module, source) at different paths are legal
    # plans (one PV written into two groups) — route every binding of a
    # duplicated source to the per-binding path, where each path gets its
    # own write.
    for key, members in list(groups.items()):
        seen: dict[str, int] = {}
        for b in members:
            seen[b.source] = seen.get(b.source, 0) + 1
        dup = {s for s, n in seen.items() if n > 1}
        if dup:
            keep = [b for b in members if b.source not in dup]
            singles.extend(b for b in members if b.source in dup)
            if keep:
                groups[key] = keep
            else:
                groups.pop(key)
    for key in [k for k, v in groups.items() if len(v) == 1]:
        singles.extend(groups.pop(key))
    return groups, singles
