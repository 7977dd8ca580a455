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


def group_streams(streams) -> list[list]:
    """Partition stream bindings into source groups, in plan order; every
    binding runs in exactly one group, and each group runs as ONE filter +
    transform + partitioned write per dataset, however many sources it
    holds (the 1000-source fast path).

    Same-module, same-shape-config bindings share a group when the
    module's transform keeps sources apart ("GROUPABLE": row-wise, or
    per-source windows like ev44's index). Identity keys (topic/source)
    name the stream without changing the transform, so they are excluded
    from the shape key. A binding with per-source driver state (a cue
    recurrence) or statics, and every binding of a source bound more than
    once in a group, is a group of one: the grouped write keys its
    partition dirs and aggregate rows by source name."""
    import json as _json
    from collections import Counter

    shared: dict[object, list] = {}
    for i, b in enumerate(streams):
        module = REGISTRY.get(b.module)
        cfg = b.config or {}
        if (
            module is not None
            and getattr(module, "GROUPABLE", False)
            and not cfg.get("cue_interval")
            and not hasattr(module, "statics")
        ):
            shape = {k: v for k, v in cfg.items() if k not in ("topic", "source")}
            key = (b.module, _json.dumps(shape, sort_keys=True))
        else:
            key = i
        shared.setdefault(key, []).append(b)
    groups: list[list] = []
    for members in shared.values():
        seen = Counter(b.source for b in members)
        unique = [b for b in members if seen[b.source] == 1]
        if unique:
            groups.append(unique)
        groups.extend([b] for b in members if seen[b.source] > 1)
    return groups
