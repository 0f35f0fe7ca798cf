"""Z-order layout: the Morton key interleaves correctly."""

from relationalize_spark.plans.zorder import add_zorder_key


def _morton_ref(x: int, y: int, bits: int) -> int:
    out = 0
    for b in range(bits):
        out |= ((x >> b) & 1) << (2 * b)       # col 0 -> even bits
        out |= ((y >> b) & 1) << (2 * b + 1)   # col 1 -> odd bits
    return out


def test_zorder_key_matches_reference_interleave(spark):
    n, bits = 1 << 6, 6
    df = spark.createDataFrame(
        [(i, (i * 37) % n) for i in range(n)], "x long, y long"
    )
    got = {
        (r["x"], r["y"]): r["zkey"]
        for r in add_zorder_key(df, ["x", "y"], bits=bits).collect()
    }
    top = n - 1
    for (x, y), z in got.items():
        # ranks: min/max normalize maps [0, top] onto itself here
        assert z == _morton_ref(x, y, bits), (x, y, z)
    assert len(set(got.values())) == n * 1  # keys distinct on this grid
