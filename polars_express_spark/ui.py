"""Embedded single-page UI — the reference's last unreplicated surface.

The reference ships a self-contained HTML explorer from its binary
(INDEX_HTML, src/main.rs:337-520): three <section> forms (preview,
delay sort, regression) that fetch the three data routes and dump raw
JSON into <pre> tags, with free-text dataset-id inputs.

This page covers the same three workflows against the same three fetch
paths (same URLs, query params, and POST body shape), re-designed
rather than transcribed:

- ONE dataset picker shared by all panels — a <datalist> fed from the
  /datasets listing route (the reference makes users type ids blind),
  still accepting free-typed ids for datasets created after page load.
- Tabular rendering: preview and delays responses are JSON row arrays,
  shown as real <table>s instead of raw JSON; regression output stays
  key: value text. Errors render the server's {"error": ...} payload.
- The X-Truncated response header (see sinks.to_json_rows_flagged) is
  surfaced as a visible notice, so a capped result is distinguishable
  from a complete one — the reference returns whole tables and has no
  such state.
- A fourth panel drives the engine-native POST /sql route: a
  read-only SQL console over the lake's datasets, rendering rows
  through the same table renderer; guard rejections (api.py
  _check_read_only) surface as the server's 400 error text.

Kept deliberately dependency-free (vanilla JS, no framework) so the
server stays a stdlib-only component, like the reference's const-string
approach.
"""

INDEX_HTML = """<!DOCTYPE html>
<html lang="en">
<head>
<meta charset="utf-8">
<title>polars_express_spark explorer</title>
<style>
  :root { --edge: #d0d4da; --ink: #1d2430; --dim: #68707c; --wash: #f3f5f8; }
  body { font-family: system-ui, sans-serif; color: var(--ink);
         max-width: 72rem; margin: 1.5rem auto; padding: 0 1rem; }
  header p { color: var(--dim); max-width: 48rem; }
  fieldset { border: 1px solid var(--edge); border-radius: 6px;
             margin: 0 0 1.25rem; padding: 0.75rem 1rem 1rem; }
  legend { font-weight: 600; padding: 0 0.4rem; }
  label { margin-right: 1rem; }
  input, select { padding: 0.2rem 0.3rem; margin-left: 0.3rem; }
  button { padding: 0.25rem 0.9rem; cursor: pointer; }
  table { border-collapse: collapse; margin-top: 0.75rem; font-size: 0.9rem; }
  th, td { border: 1px solid var(--edge); padding: 0.25rem 0.6rem; text-align: left; }
  th { background: var(--wash); }
  .status { margin-top: 0.6rem; color: var(--dim); font-size: 0.9rem; }
  .status.error { color: #a33030; }
  .status.truncated { color: #8a6200; }
  pre { background: var(--wash); padding: 0.6rem; border-radius: 4px; }
</style>
</head>
<body>
<header>
  <h1>polars_express_spark explorer</h1>
  <p>Pick (or type) a dataset id registered in the lake's base
  directory, then preview rows, rank by the <code>*delay*</code>
  columns, or fit an OLS regression. Served by the stdlib HTTP layer
  over a shared SparkSession.</p>
</header>

<fieldset>
  <legend>Dataset</legend>
  <label>id
    <input id="ds" list="ds-options" placeholder="loading ids...">
  </label>
  <datalist id="ds-options"></datalist>
  <span id="ds-status" class="status"></span>
</fieldset>

<fieldset>
  <legend>Preview</legend>
  <label>rows <input id="pv-limit" type="number" value="20" min="1"></label>
  <button id="pv-go">Preview</button>
  <div id="pv-out"></div>
</fieldset>

<fieldset>
  <legend>Delays</legend>
  <label>direction
    <select id="dl-dir">
      <option value="">default (ascending)</option>
      <option value="Asc">ascending</option>
      <option value="Desc">descending</option>
    </select>
  </label>
  <label>rows <input id="dl-limit" type="number" value="20" min="1"></label>
  <button id="dl-go">Sort delays</button>
  <div id="dl-out"></div>
</fieldset>

<fieldset>
  <legend>Regression (OLS y ~ x)</legend>
  <label>x column <input id="rg-x" placeholder="e.g. departure_delay"></label>
  <label>y column <input id="rg-y" placeholder="e.g. arrival_delay"></label>
  <button id="rg-go">Fit</button>
  <div id="rg-out"></div>
</fieldset>

<fieldset>
  <legend>SQL (read-only)</legend>
  <label style="display:block; margin-bottom:0.4rem">query
    <textarea id="sq-q" rows="3" style="width:100%; box-sizing:border-box"
      placeholder="SELECT ... FROM <dataset id> ... — every lake dataset is a view"></textarea>
  </label>
  <label>row limit <input id="sq-limit" type="number" value="100" min="1"></label>
  <button id="sq-go">Run</button>
  <div id="sq-out"></div>
</fieldset>

<script>
"use strict";
const $ = (id) => document.getElementById(id);
const dsId = () => encodeURIComponent($("ds").value.trim());

function note(target, text, cls) {
  const el = document.createElement("div");
  el.className = "status" + (cls ? " " + cls : "");
  el.textContent = text;
  target.replaceChildren(el);
  return el;
}

function renderRows(target, rows, truncated) {
  if (!rows.length) { note(target, "0 rows"); return; }
  const cols = Object.keys(rows[0]);
  const table = document.createElement("table");
  const head = table.createTHead().insertRow();
  for (const c of cols) {
    const th = document.createElement("th");
    th.textContent = c;
    head.appendChild(th);
  }
  const body = table.createTBody();
  for (const row of rows) {
    const tr = body.insertRow();
    for (const c of cols) {
      tr.insertCell().textContent = row[c] === null ? "∅" : String(row[c]);
    }
  }
  target.replaceChildren(table);
  const msg = rows.length + " rows" +
    (truncated ? " — result truncated at the server's row cap" : "");
  target.appendChild(Object.assign(document.createElement("div"),
    { className: "status" + (truncated ? " truncated" : ""), textContent: msg }));
}

async function call(target, path, init) {
  if (!$("ds").value.trim()) { note(target, "pick a dataset id first", "error"); return null; }
  note(target, "running…");
  let res;
  try {
    res = await fetch(path, init);
  } catch (err) {
    note(target, "request failed: " + err, "error");
    return null;
  }
  const body = await res.json().catch(() => ({}));
  if (!res.ok) {
    note(target, "HTTP " + res.status + (body.error ? " — " + body.error : ""), "error");
    return null;
  }
  return { body, truncated: res.headers.get("X-Truncated") === "true" };
}

$("pv-go").addEventListener("click", async () => {
  const r = await call($("pv-out"),
    `/data/${dsId()}/preview?limit=${$("pv-limit").value || 100}`);
  if (r) renderRows($("pv-out"), r.body, r.truncated);
});

$("dl-go").addEventListener("click", async () => {
  const q = new URLSearchParams();
  if ($("dl-dir").value) q.set("sorting", $("dl-dir").value);
  if ($("dl-limit").value) q.set("limit", $("dl-limit").value);
  const r = await call($("dl-out"), `/data/${dsId()}/delays?` + q);
  if (r) renderRows($("dl-out"), r.body, r.truncated);
});

$("rg-go").addEventListener("click", async () => {
  const x = $("rg-x").value.trim(), y = $("rg-y").value.trim();
  if (!x || !y) { note($("rg-out"), "x and y columns required", "error"); return; }
  const r = await call($("rg-out"), `/data/${dsId()}/regression`, {
    method: "POST",
    headers: { "Content-Type": "application/json" },
    body: JSON.stringify({ x_col: x, y_col: y }),
  });
  if (!r) return;
  const pre = document.createElement("pre");
  pre.textContent = Object.entries(r.body)
    .map(([k, v]) => k + " = " + (v === null ? "null" : v)).join("\\n");
  $("rg-out").replaceChildren(pre);
});

$("sq-go").addEventListener("click", async () => {
  const q = $("sq-q").value.trim();
  const out = $("sq-out");
  if (!q) { note(out, "enter a SELECT query", "error"); return; }
  note(out, "running…");
  let res;
  try {
    res = await fetch("/sql", {
      method: "POST",
      headers: { "Content-Type": "application/json" },
      body: JSON.stringify({ query: q, limit: Number($("sq-limit").value) || null }),
    });
  } catch (err) {
    note(out, "request failed: " + err, "error");
    return;
  }
  const body = await res.json().catch(() => ({}));
  if (!res.ok) {
    note(out, "HTTP " + res.status + (body.error ? " — " + body.error : ""), "error");
    return;
  }
  renderRows(out, body, false);
});

(async () => {
  try {
    const ids = await (await fetch("/datasets")).json();
    $("ds-options").replaceChildren(
      ...ids.map((id) => Object.assign(document.createElement("option"), { value: id })));
    $("ds").placeholder = ids.length ? "e.g. " + ids[0] : "no datasets in lake";
    if (ids.length === 1) $("ds").value = ids[0];
    note($("ds-status"), ids.length + " dataset(s) in lake");
  } catch (err) {
    note($("ds-status"), "listing failed: " + err, "error");
  }
})();
</script>
</body>
</html>
"""
