"""Interop proven against the REAL reference binary, not our emulation
of it: run `node /root/reference/index.js` on fixture CSVs, read its
output directory with spark.read.format("collimate_legacy"), and compare
against our own ingest of the same CSV (plus a byte-level comparison of
our write_legacy_store export against the reference's artifacts).

The reference's npm deps (moment / csv-parse / yargs) aren't installed
in this container, so minimal shims implementing ONLY the API surface
index.js exercises are provided via NODE_PATH. The shims implement the
publicly documented call signatures (strict moment(value, fmt, true)
parse; csv-parse sync with columns/trim; yargs boolean flags) — the
type-decision logic under test is entirely the reference's own.

Fixture design notes (discovered by probing the real binary):
- a refine-pass variable (`num`, index.js:276) is read stale from the
  initial scan loop; any trailing non-numeric column (e.g. dates) makes
  it NaN and demotes every int32 column to str. The mixed fixture
  therefore puts a numeric column last so the reference exercises its
  intended int32 path.
- a float column whose FIRST row is null starts as int32 and refines to
  str, not float32 (index.js:270-300); the fixture keeps row 0 non-null.
- the date fixture holds only str/date columns, where neither quirk can
  fire, and checks D/M/YYYY -> ISO normalization against our
  parse_dates ingest.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess

import numpy as np
import pytest

from collimate_spark.sources.legacy_store import (
    CollimateLegacyDataSource,
    write_legacy_store,
)

NODE = shutil.which("node")
REF = "/root/reference/index.js"

pytestmark = [
    pytest.mark.skipif(NODE is None, reason="node is not on PATH"),
    pytest.mark.skipif(
        not os.path.exists(REF), reason=f"reference converter {REF} is absent"
    ),
]

N = 1000
COLORS = ["red", "green", "blue", "black"]

_MOMENT_SHIM = r"""
function tokenize(f){var out=[],i=0;while(i<f.length){if(f.startsWith("YYYY",i)){out.push("YYYY");i+=4;}
else if("MDHms".indexOf(f[i])>=0){var c=f[i],j=i;while(j<f.length&&f[j]===c)j++;out.push(f.slice(i,j));i=j;}
else{out.push(f[i]);i+=1;}}return out;}
function daysIn(y,m){return new Date(y,m,0).getDate();}
function moment(value,format,strict){
  var toks=tokenize(String(format)),s=String(value),pos=0,y=null,mo=null,d=null,ok=true;
  for(var t=0;t<toks.length&&ok;t++){var tok=toks[t];
    if(tok==="YYYY"){var m4=/^\d{4}/.exec(s.slice(pos));if(!m4){ok=false;break;}y=+m4[0];pos+=4;}
    else if("MDHms".indexOf(tok[0])>=0){var min=tok.length>=2?2:1;
      var mm=new RegExp("^\\d{"+min+",2}").exec(s.slice(pos));if(!mm){ok=false;break;}
      if(tok[0]==="M")mo=+mm[0];if(tok[0]==="D")d=+mm[0];pos+=mm[0].length;}
    else{if(s[pos]!==tok){ok=false;break;}pos+=1;}}
  if(pos!==s.length)ok=false;
  if(ok&&mo!==null&&(mo<1||mo>12))ok=false;
  if(ok&&d!==null&&(d<1||d>31||(y!==null&&mo!==null&&d>daysIn(y,mo))))ok=false;
  return {isValid:function(){return ok&&y!==null&&mo!==null&&d!==null;},
    format:function(fmt){if(!ok)return "Invalid date";
      var p2=function(n){return (n<10?"0":"")+n;};
      return String(fmt).replace("YYYY",String(y)).replace("MM",p2(mo)).replace("DD",p2(d));}};}
module.exports=moment;
"""

_CSV_PARSE_SHIM = r"""
module.exports=function parse(text,opts){
  var delim=(opts&&opts.delimiter)||",";
  var lines=String(text).split(/\r?\n/).filter(function(l){return l.length>0;});
  var header=lines[0].split(delim).map(function(h){return h.trim();});
  return lines.slice(1).map(function(line){
    var cells=line.split(delim),row={};
    for(var i=0;i<header.length;i++){
      var v=cells[i]===undefined?"":cells[i];
      row[header[i]]=opts&&opts.trim?v.trim():v;}
    return row;});};
"""

_YARGS_SHIM = r"""
var chain={usage:function(){return chain;},demand:function(){return chain;},
  boolean:function(){return chain;},alias:function(){return chain;},
  describe:function(){return chain;},help:function(){return chain;}};
Object.defineProperty(chain,"argv",{get:function(){
  var out={_:[]};
  process.argv.slice(2).forEach(function(a){
    if(a[0]==="-"){a.replace(/^-+/,"").split("").forEach(function(f){out[f]=true;});}
    else out._.push(a);});
  return out;}});
module.exports=chain;
"""


def _write_shims(root: str) -> str:
    mods = os.path.join(root, "node_modules")
    for rel, src in (
        ("moment/index.js", _MOMENT_SHIM),
        ("csv-parse/lib/sync.js", _CSV_PARSE_SHIM),
        ("yargs/index.js", _YARGS_SHIM),
    ):
        p = os.path.join(mods, rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "w") as f:
            f.write(src)
    return mods


def _run_reference(workdir: str, csv_name: str, *flags: str) -> str:
    env = dict(os.environ, NODE_PATH=_write_shims(workdir))
    subprocess.run(
        [NODE, REF, *flags, csv_name],
        cwd=workdir,
        env=env,
        check=True,
        capture_output=True,
        timeout=120,
    )
    return os.path.join(workdir, os.path.splitext(csv_name)[0])


@pytest.fixture(scope="module")
def mixed_store(tmp_path_factory):
    """The mixed-type fixture: reference emits all four physical layouts
    (id/qty .i32 with 0 sentinels, price .f32 with NaN, color .k8+.key,
    label .json)."""
    d = str(tmp_path_factory.mktemp("ref_interop"))
    lines = ["color,label,qty,id,price"]
    for i in range(N):
        qty = "" if (i % 97 == 0 and i > 0) else str((i * 7) % 1000)
        price = "" if (i % 53 == 0 and i > 0) else f"{(i * 37 % 1000) / 8:.3f}"
        lines.append(f"{COLORS[i % 4]},name_{i},{qty},{i},{price}")
    csv_path = os.path.join(d, "clean.csv")
    with open(csv_path, "w") as f:
        f.write("\n".join(lines) + "\n")
    out = _run_reference(d, "clean.csv", "-i")
    return csv_path, out


@pytest.fixture()
def legacy(spark):
    spark.dataSource.register(CollimateLegacyDataSource)
    return spark


def test_reference_layout_as_expected(mixed_store):
    _, out = mixed_store
    index = json.load(open(os.path.join(out, "index.json")))
    assert index == {
        "color": "color.k8",
        "label": "label.json",
        "qty": "qty.i32",
        "id": "id.i32",
        "price": "price.f32",
    }


def test_read_reference_store_matches_our_ingest(legacy, mixed_store):
    """Our DataSource reading the REAL reference output must agree with
    our own ingest of the same CSV, modulo the documented sentinel
    mapping (reference 0/NaN sentinels vs our real NULLs)."""
    csv_path, out = mixed_store
    ref = {r["id"]: r for r in legacy.read.format("collimate_legacy").load(out).collect()}

    from collimate_spark.ingest import ingest

    ours_df, _ = ingest(legacy, csv_path)
    ours = {r["id"]: r for r in ours_df.collect()}

    assert len(ref) == len(ours) == N
    for i in range(N):
        a, b = ours[i], ref[i]
        assert b["color"] == a["color"]
        assert b["label"] == a["label"]
        # int null -> 0 sentinel (index.js:467-471)
        assert b["qty"] == (0 if a["qty"] is None else a["qty"])
        # float null -> 0.0 sentinel: +null === 0 takes the numeric
        # branch in index.js:472-476 (NaN is only the unparseable
        # non-null string fallback) — discovered HERE, from the real
        # binary, correcting the earlier NaN emulation
        if a["price"] is None:
            assert b["price"] == 0.0
        else:
            assert abs(b["price"] - a["price"]) < 1e-6


def test_our_writer_bytes_match_reference_artifact(legacy, mixed_store):
    """write_legacy_store must reproduce the reference's binary buffers
    BYTE-FOR-BYTE on the same input: same sentinels, same float32
    narrowing, same first-encounter dictionary code order."""
    csv_path, out = mixed_store

    from collimate_spark.ingest import ingest

    ours_df, _ = ingest(legacy, csv_path)
    exp_dir = csv_path + ".export"
    # our engine deliberately keeps float64 (SURVEY §1.3 deviation); the
    # reference's CSV floats are float32 — cast for the byte comparison
    from pyspark.sql import functions as F

    ours_df = ours_df.withColumn("price", F.col("price").cast("float"))
    # the reference's categorical threshold at N=1000 full scan:
    # ceil(N * CATEGORICAL_FRACTION 0.3) = 300 (index.js:232)
    write_legacy_store(ours_df.orderBy("id"), exp_dir, categorical_threshold=300)

    for fname in ("id.i32", "qty.i32", "price.f32", "color.k8"):
        ref_bytes = open(os.path.join(out, fname), "rb").read()
        our_bytes = open(os.path.join(exp_dir, fname), "rb").read()
        assert our_bytes == ref_bytes, f"{fname}: byte mismatch"
    # JSON artifacts compare parsed (whitespace differs)
    for fname in ("color.k8.key", "label.json"):
        assert json.load(open(os.path.join(out, fname))) == json.load(
            open(os.path.join(exp_dir, fname))
        ), f"{fname}: value mismatch"


def test_reference_date_normalization_matches_our_parse_dates(legacy, tmp_path):
    """D/M/YYYY input: the reference (-d) normalizes to ISO strings; our
    ingest with parse_dates=True yields DateType — string-cast equal."""
    d = str(tmp_path)
    lines = ["label,d"]
    for i in range(60):
        lines.append(f"doc_{i},{1 + i % 28}/{1 + i % 12}/2024")
    csv_path = os.path.join(d, "dates.csv")
    with open(csv_path, "w") as f:
        f.write("\n".join(lines) + "\n")
    out = _run_reference(d, "dates.csv", "-d", "-i")

    index = json.load(open(os.path.join(out, "index.json")))
    assert index["d"] == "d.json"
    ref_dates = json.load(open(os.path.join(out, "d.json")))

    from collimate_spark.ingest import ingest

    ours_df, manifest = ingest(legacy, csv_path, parse_dates=True)
    rows = ours_df.orderBy("label").collect()
    got = {r["label"]: str(r["d"]) for r in rows}
    labels = [f"doc_{i}" for i in range(60)]
    assert [got[l] for l in labels] == ref_dates
    assert dict(ours_df.dtypes)["d"] == "date"


def test_reference_int_sentinel_positions(mixed_store):
    """The 0 sentinels in the reference's qty.i32 sit exactly at the
    null positions of the fixture (and nowhere else except the real 0)."""
    _, out = mixed_store
    qty = np.fromfile(os.path.join(out, "qty.i32"), dtype="<i4")
    for i in range(N):
        if i % 97 == 0 and i > 0:
            assert qty[i] == 0
        else:
            assert qty[i] == (i * 7) % 1000
