"""Optional compiled fast path for the FSST hot loops (cffi + cc).

The numpy kernels in :mod:`fsst` are the reference implementation and
the always-available fallback; this module compiles a ~150-line C
translation of the SAME greedy longest-match parse (identical matcher
structure: 1/2-byte direct tables + the set-associative two-word hash
table, probed in the same way order) and the symbol-expansion decode.
Because the semantics are position-for-position identical — including
the pseudo-split string boundaries the caller passes in — the C path
produces BIT-IDENTICAL blobs to the numpy path (asserted in
tests/test_native.py), so mixed fleets (some hosts without a C
compiler) still produce deterministic, interchangeable files.

Why this exists: the numpy lockstep-frontier parse costs ~25 numpy
temporaries per emitted unit (~370 ns/unit, ~27 MB/s/core — the r4
"numpy ceiling" in BENCH/BASELINE.md); the same loop in C touches only
the bytes it reads and writes (~15 ns/unit). Beyond raw speed this
slashes per-core memory-bus traffic ~20x, which is what was capping
multi-worker scaling on shared-bus hosts (BENCH/BASELINE.md r4
saturation analysis).

Build model: compile-on-first-use with the system C compiler into a
content-hashed shared object under $TMPDIR/pgs_native-<uid> (atomic
rename — concurrent Spark python workers race benignly; each loser just
os.replace()s the identical file). The cache directory is created with
mode 0700, and the directory and the .so are only trusted for dlopen
when this user owns them and no one else can write them. Anything
failing — no cc, no cffi, sandboxed /tmp, a cache another user could
have planted — degrades to the numpy path (~6x slower FSST): the
module keeps the cause in ``reason`` and emits one RuntimeWarning per
process. Set PGS_NO_NATIVE=1 to force the numpy path on purpose (used
by the identity tests); that sets ``reason`` but warns nothing.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import tempfile
import warnings

__all__ = ["lib", "ffi", "available", "reason"]

_CDEF = r"""
int64_t pgs_fsst_parse(
    const uint8_t* pad, const int64_t* offs, int64_t n_str,
    const uint8_t* t1, const uint8_t* t2,
    const uint64_t* hkey_hi, const uint64_t* hmask_hi,
    const uint64_t* hkey_lo, const uint64_t* hmask_lo,
    const int64_t* hlen, const uint8_t* hcode, const uint8_t* hocc,
    int has_long, uint8_t* out);
int64_t pgs_fsst_expand(
    const uint8_t* enc, int64_t enc_len,
    const uint8_t* sym_pad, const int64_t* sym_off,
    const uint8_t* sym_len, int n_sym,
    uint8_t* out, int64_t out_cap);
"""

# Mirrors kernels/fsst.py: _HASH_BITS=12, _HASH_WAYS=4, _KEY=8,
# escape code 255. The hash function and probe order MUST stay in
# lockstep with _MatchTables for blob bit-identity.
_SRC = r"""
#include <stdint.h>
#include <string.h>

#define HASH_BITS 12
#define HASH_WAYS 4
#define ESCAPE 255

static inline uint64_t load_be64(const uint8_t* p) {
    uint64_t v;
    memcpy(&v, p, 8);
#if defined(__GNUC__)
    return __builtin_bswap64(v);
#else
    return ((v & 0xffULL) << 56) | ((v & 0xff00ULL) << 40)
         | ((v & 0xff0000ULL) << 24) | ((v & 0xff000000ULL) << 8)
         | ((v >> 8) & 0xff000000ULL) | ((v >> 24) & 0xff0000ULL)
         | ((v >> 40) & 0xff00ULL) | (v >> 56);
#endif
}

/* Greedy longest-match parse + escape emission in one pass.
   `pad` must be readable for >=16 bytes past offs[n_str].
   `out` capacity must be >= 2 * (offs[n_str] - offs[0]).
   Returns the number of bytes written to out. */
int64_t pgs_fsst_parse(
    const uint8_t* pad, const int64_t* offs, int64_t n_str,
    const uint8_t* t1, const uint8_t* t2,
    const uint64_t* hkey_hi, const uint64_t* hmask_hi,
    const uint64_t* hkey_lo, const uint64_t* hmask_lo,
    const int64_t* hlen, const uint8_t* hcode, const uint8_t* hocc,
    int has_long, uint8_t* out)
{
    int64_t o = 0;
    for (int64_t s = 0; s < n_str; s++) {
        int64_t pos = offs[s];
        const int64_t end = offs[s + 1];
        while (pos < end) {
            const int64_t rem = end - pos;
            const uint64_t k = load_be64(pad + pos);
            int code = -1;
            int64_t ml = 1;
            if (has_long && rem >= 3) {
                const uint32_t key3 = (uint32_t)(k >> 40);
                const uint32_t b =
                    (uint32_t)(key3 * 2654435761u) >> (32 - HASH_BITS);
                const int occ = hocc[b];
                if (occ) {
                    const int64_t base = (int64_t)b * HASH_WAYS;
                    const uint64_t k2 = load_be64(pad + pos + 8);
                    for (int w = 0; w < occ; w++) {
                        const int64_t j = base + w;
                        const int64_t hl = hlen[j];
                        if (rem >= hl &&
                            ((((k ^ hkey_hi[j]) & hmask_hi[j]) |
                              ((k2 ^ hkey_lo[j]) & hmask_lo[j])) == 0)) {
                            code = hcode[j];
                            ml = hl;
                            break;
                        }
                    }
                }
            }
            if (code < 0) {
                if (rem >= 2) {
                    const uint8_t c2 = t2[(uint16_t)(k >> 48)];
                    if (c2 != ESCAPE) { code = c2; ml = 2; }
                }
                if (code < 0) {
                    const uint8_t c1 = t1[pad[pos]];
                    if (c1 != ESCAPE) { code = c1; ml = 1; }
                }
            }
            if (code < 0) {
                out[o++] = ESCAPE;
                out[o++] = pad[pos];
                ml = 1;
            } else {
                out[o++] = (uint8_t)code;
            }
            pos += ml;
        }
    }
    return o;
}

/* Decode expansion: code byte -> symbol bytes; 255 = escape (next
   byte literal). `sym_pad` holds the concatenated symbols padded by
   >=16 trailing bytes so the 16-byte copy never over-reads; `out`
   must have >=16 bytes of slack past out_cap... callers allocate
   out_cap + 16. Returns bytes written, or -1 on a malformed stream
   (code out of range / truncated escape / overflow). */
int64_t pgs_fsst_expand(
    const uint8_t* enc, int64_t enc_len,
    const uint8_t* sym_pad, const int64_t* sym_off,
    const uint8_t* sym_len, int n_sym,
    uint8_t* out, int64_t out_cap)
{
    int64_t o = 0, i = 0;
    while (i < enc_len) {
        const uint8_t c = enc[i];
        if (c == ESCAPE) {
            if (i + 1 >= enc_len || o >= out_cap) return -1;
            out[o++] = enc[i + 1];
            i += 2;
        } else {
            if (c >= n_sym) return -1;
            const int64_t L = sym_len[c];
            if (o + L > out_cap) return -1;
            /* fixed 16-byte copy, advance by true length */
            memcpy(out + o, sym_pad + sym_off[c], 16);
            o += L;
            i += 1;
        }
    }
    return o;
}
"""


def _private(path: str) -> bool:
    """``path`` itself (a symlink is not followed) belongs to this user
    and is not group- or other-writable."""
    st = os.lstat(path)
    return st.st_uid == os.getuid() and not st.st_mode & 0o022


class _Refused(RuntimeError):
    """A cache path this process must not dlopen from."""


def _build():
    import cffi

    h = hashlib.sha256((_CDEF + _SRC).encode()).hexdigest()[:16]
    # per-user cache: in a shared world-writable directory another
    # local user could plant the library this process dlopens
    cdir = os.path.join(tempfile.gettempdir(), f"pgs_native-{os.getuid()}")
    os.makedirs(cdir, mode=0o700, exist_ok=True)
    if not _private(cdir):
        raise _Refused(f"cache dir {cdir} is not private to this user")
    so = os.path.join(cdir, f"pgs_{h}.so")
    if not os.path.exists(so):
        td = tempfile.mkdtemp(dir=cdir)
        try:
            csrc = os.path.join(td, "pgs.c")
            with open(csrc, "w") as f:
                f.write(_SRC)
            tmp = os.path.join(td, "pgs.so")
            cc = os.environ.get("CC", "cc")
            run = subprocess.run(
                [cc, "-O3", "-fno-strict-aliasing", "-shared", "-fPIC",
                 "-o", tmp, csrc],
                capture_output=True, timeout=120,
            )
            if run.returncode:
                err = run.stderr.decode(errors="replace").strip()
                raise RuntimeError(
                    f"{cc} exited with status {run.returncode}"
                    + (f": {err[-500:]}" if err else ""))
            os.replace(tmp, so)  # atomic: concurrent builders converge
        finally:
            for fn in os.listdir(td):
                try:
                    os.unlink(os.path.join(td, fn))
                except OSError:
                    pass
            try:
                os.rmdir(td)
            except OSError:
                pass
    if not _private(so):
        raise _Refused(f"{so} is not private to this user")
    f = cffi.FFI()
    f.cdef(_CDEF)
    return f, f.dlopen(so)


# Why the numpy path is in use (None while the native path is).
reason: str | None = None
ffi = lib = None
if os.environ.get("PGS_NO_NATIVE"):
    reason = "PGS_NO_NATIVE is set"
else:
    try:
        ffi, lib = _build()
    except Exception as e:  # no cc / no cffi / sandboxed tmp / refused
        reason = f"{type(e).__name__}: {e}"
        warnings.warn(
            f"native FSST kernels unavailable, using the ~6x slower numpy "
            f"path: {reason}", RuntimeWarning, stacklevel=2)


def available() -> bool:
    return lib is not None
