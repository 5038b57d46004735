"""HTML map sinks (SURVEY.md §2.1 S9/S10) — thin presentation layer.

The reference emits folium maps per date (DataDownloader_V2.py:44-108)
and a wrapper HTML whose slider iframes per-date maps discovered from the
partition tree (generate_wrapper_html, DataDownloader_V2.py:186-265).
folium is not in this container, so the equivalent artifacts are built by
direct string templating — which is all folium does under the hood — from
query results:

- ``render_layer_map``: one self-contained HTML per date with an image
  overlay placeholder per layer (bounds from the A8 bounds aggregate)
  and a layer-checkbox panel (P8's query-string layer selection,
  index.html:168-176).
- ``render_wrapper``: the date-slider wrapper over the partition list
  (A9's date spine — a real query, not a directory listing).

These are presentation sinks: out of the correctness gate, driver-side,
bounded inputs only (a handful of layers × dates).
"""

from __future__ import annotations

import html as _html
import json

_MAP_TEMPLATE = """<!DOCTYPE html>
<html><head><meta charset="utf-8"><title>{title}</title></head>
<body>
<div id="controls">
{checkboxes}
</div>
<div id="map" data-bounds="{bounds}">
{overlays}
</div>
</body></html>
"""


def render_layer_map(
    title: str,
    layers: dict[str, dict],
    selected: list[str] | None = None,
) -> str:
    """One date's map: ``layers`` maps layer key → {"bounds": (min_lon,
    min_lat, max_lon, max_lat), "image": <png path or data URI>}.
    ``selected`` reproduces the query-string layer filter (P8)."""
    sel = set(selected) if selected is not None else set(layers)
    boxes = "\n".join(
        f'<label><input type="checkbox" name="{_html.escape(k)}" '
        f'{"checked" if k in sel else ""}/>{_html.escape(k)}</label>'
        for k in sorted(layers)
    )
    overlays = "\n".join(
        f'<img class="overlay" id="layer-{_html.escape(k)}" '
        f'src="{_html.escape(str(v.get("image", "")))}" '
        f'data-bounds="{json.dumps(v["bounds"])}" '
        f'style="display:{"block" if k in sel else "none"}"/>'
        for k, v in sorted(layers.items())
    )
    all_bounds = [v["bounds"] for v in layers.values()]
    envelope = (
        min(b[0] for b in all_bounds),
        min(b[1] for b in all_bounds),
        max(b[2] for b in all_bounds),
        max(b[3] for b in all_bounds),
    ) if all_bounds else (0, 0, 0, 0)
    return _MAP_TEMPLATE.format(
        title=_html.escape(title),
        checkboxes=boxes,
        overlays=overlays,
        bounds=json.dumps(envelope),
    )


_WRAPPER_TEMPLATE = """<!DOCTYPE html>
<html><head><meta charset="utf-8"><title>{title}</title></head>
<body>
<input type="range" id="date-slider" min="0" max="{max_idx}" value="{max_idx}"/>
<span id="date-label">{latest}</span>
<script>const dates = {dates};</script>
{frames}
</body></html>
"""


def render_wrapper_from_spine(
    title: str,
    spine,
    frame_pattern: str,
) -> str:
    """S10 directly from the A9 date-spine RELATION: ``spine`` is a
    DataFrame with a ``date`` column (e.g.
    ``operators.calendar.date_spine_from``'s output or
    the observed side of ``date_spine_gaps``) and the slider's date
    list is provably that query's result — not a caller-assembled
    Python list that can drift from it. The collect is bounded by the
    calendar (days in range), the same dimension-sized-collect contract
    as the other presentation sinks."""
    from pyspark.sql import functions as F

    dates = [
        r["d"]
        for r in spine.select(
            F.col("date").cast("string").alias("d")
        ).distinct().collect()
    ]
    return render_wrapper(title, dates, frame_pattern)


def render_wrapper(title: str, dates: list[str], frame_pattern: str) -> str:
    """The slider wrapper (S10): ``dates`` come from the date-spine query
    (A9); ``frame_pattern`` contains ``{date}``. Slider defaults to the
    latest date (W2, index_viirs_frp.html:186)."""
    if not dates:
        raise ValueError("no dates to render")
    dates = sorted(dates)
    frames = "\n".join(
        f'<iframe data-date="{_html.escape(d)}" '
        f'src="{_html.escape(frame_pattern.format(date=d))}" '
        f'style="display:{"block" if i == len(dates) - 1 else "none"}">'
        "</iframe>"
        for i, d in enumerate(dates)
    )
    return _WRAPPER_TEMPLATE.format(
        title=_html.escape(title),
        max_idx=len(dates) - 1,
        latest=_html.escape(dates[-1]),
        dates=json.dumps(dates),
        frames=frames,
    )
