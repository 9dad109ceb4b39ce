"""Seeded MicMac XML corpus for the lake_write workload.

Files are made from the valid sample documents in
src/test/resources/micmac: each copy gets fresh numbers (focal, principal
point, distortion, rig arms, poses) and a unique name. Two batches are
written: batch `b` repeats half of batch `a` byte for byte and adds new
files, so importing `b` over `a` exercises the get-or-create upsert.

`generate` returns what the import must produce: the number of distinct
(file, transfo) rows in a ∪ b, the tree the snapshot step selects, and
that tree's edge count.
"""
import math
import os
import random
import re

TEMPLATES = "src/test/resources/micmac"
AUTOCAL = ["autocal_sample.xml", "autocal_phgrstd.xml"]
ORIMATIS = ["orimatis_sample.xml", "orimatis_matrix.xml",
            "orimatis_spherique.xml"]
BLINIS = "blinis_sample.xml"
TRANSFOS_PER_AUTOCAL = 3    # pinhole, distortion, pixel frame
TRANSFOS_PER_ORIMATIS = 2   # pose + intrinsics


def _sub(xml, tag, value):
    """Replace the text of every <tag>...</tag> leaf."""
    out, n = re.subn(rf"<{tag}>[^<]*</{tag}>", f"<{tag}>{value}</{tag}>", xml)
    assert n, f"template has no <{tag}>"
    return out


def _rot_z(theta):
    c, s = math.cos(theta), math.sin(theta)
    return [[c, -s, 0.0], [s, c, 0.0], [0.0, 0.0, 1.0]]


def _row(r):
    return " ".join(repr(round(x, 12)) for x in r)


def _autocal(rng, tpl):
    x = _sub(tpl, "F", f"{rng.uniform(2500, 3500):.3f}")
    x = _sub(x, "PP", f"{rng.uniform(1400, 1600):.2f} {rng.uniform(950, 1100):.2f}")
    return _sub(x, "CoeffDist", f"{rng.uniform(-2e-4, 2e-4):.3e}")


def _blinis(rng, tpl, rig, cams):
    head, rest = tpl.split("<ParamOrientSHC>", 1)
    block = "<ParamOrientSHC>" + rest.split("</ParamOrientSHC>", 1)[0] \
        + "</ParamOrientSHC>"
    tail = rest.rsplit("</ParamOrientSHC>", 1)[1]
    arms = []
    for i in range(cams):
        b = _sub(block, "IdGrp", f"cam_{i:02d}")
        b = _sub(b, "Vecteur", _row(rng.uniform(-2, 2) for _ in range(3)))
        r = _rot_z(rng.uniform(-math.pi, math.pi))
        for k in range(3):
            b = _sub(b, f"L{k + 1}", _row(r[k]))
        arms.append(b)
    x = _sub(head, "KeyIm2TimeCam", rig)
    return x + "\n    ".join(arms) + tail


def _orimatis(rng, tpl, name):
    x = _sub(tpl, "name", name)
    x = _sub(x, "easting", f"{rng.uniform(650000, 652000):.3f}")
    x = _sub(x, "northing", f"{rng.uniform(6860000, 6862000):.3f}")
    x = _sub(x, "altitude", f"{rng.uniform(20, 200):.3f}")
    if "<quaternion>" in x:
        # a rotation about z written to 12 digits stays unit within the
        # importer's completeness tolerance
        h = rng.uniform(-math.pi, math.pi) / 2
        for tag, v in (("x", 0.0), ("y", 0.0), ("z", math.sin(h)), ("w", math.cos(h))):
            x = _sub(x, tag, repr(round(v, 12)))
    if "<mat3d>" in x:
        r = _rot_z(rng.uniform(-math.pi, math.pi))
        for k in range(3):
            x = _sub(x, f"l{k + 1}", _row(r[k]))
    return x


def generate(seed, out_dir, per_kind=8):
    rng = random.Random(seed)
    tpl = {n: open(os.path.join(TEMPLATES, n)).read()
           for n in AUTOCAL + ORIMATIS + [BLINIS]}

    def make(kind, i):
        name = f"{kind}_{seed}_{i:03d}.xml"
        if kind == "autocal":
            return name, _autocal(rng, tpl[rng.choice(AUTOCAL)]), TRANSFOS_PER_AUTOCAL
        if kind == "blinis":
            cams = rng.randint(2, 4)
            return name, _blinis(rng, tpl[BLINIS], f"rig_{seed}_{i}", cams), cams
        return (name, _orimatis(rng, tpl[rng.choice(ORIMATIS)], f"sensor_{i}"),
                TRANSFOS_PER_ORIMATIS)

    kinds = ["autocal", "blinis", "orimatis"]
    a = {k: [make(k, i) for i in range(per_kind)] for k in kinds}
    b = {k: a[k][per_kind // 2:] + [make(k, per_kind + i) for i in range(per_kind // 2)]
         for k in kinds}
    for batch, files in (("a", a), ("b", b)):
        for kind in kinds:
            d = os.path.join(out_dir, batch, kind)
            os.makedirs(d, exist_ok=True)
            for name, xml, _ in files[kind]:
                with open(os.path.join(d, name), "w") as f:
                    f.write(xml)
        with open(os.path.join(out_dir, batch, "manifest.txt"), "w") as f:
            for name, _, _ in files["orimatis"]:
                f.write(os.path.abspath(os.path.join(out_dir, batch, "orimatis", name)) + "\n")
    seen = {name: n for k in kinds for name, _, n in a[k] + b[k]}
    tree, _, cams = rng.choice(b["blinis"])
    return {"rows": sum(seen.values()), "snapshot_tree": tree, "snapshot_rows": cams}
