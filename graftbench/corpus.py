"""Seeded analysis-JSON corpus, op stream and ground-truth model for the
`analyst` workload.

The generator writes one JSON file per binary in the reference analysis
schema (`binary_info`, `functions`, `strings`, `imports`, `exports`,
`calls`). The model rebuilds the property graph from the same records
with the importer's rules, so every query in the op stream carries its
expected answer:

- addresses: `0x`-prefixed hex, any hex letter -> hex, all digits ->
  decimal; uids `<sha256>:0x<addr>` and `imp:<library lower>:<name>`;
- function nodes: Export beats Internal on a shared uid; the
  address->uid map prefers Import over Internal over Export;
- CALLS: one edge per (caller, callee), the last call site in the file
  wins; `import merge` upserts with the newer batch winning per key.
"""

import hashlib
import json
import math
import os
import random
import re

from xxh64 import spark_xxhash64

LIMIT = 100  # the CLI's default --limit

COMMON_NAMES = [
    "main", "init", "cleanup", "parse_config", "read_file", "write_file",
    "send_data", "recv_data", "encrypt_block", "decrypt_block", "log_msg",
    "alloc_buf", "free_buf", "hash_update", "check_license", "dispatch",
    "handle_event", "worker_loop", "connect_peer", "load_module",
]

LIBRARIES = {
    "KERNEL32.dll": ["CreateFileA", "ReadFile", "WriteFile", "CloseHandle",
                     "VirtualAlloc", "GetProcAddress", "LoadLibraryA",
                     "Sleep", "ExitProcess", "GetLastError"],
    "ws2_32.dll": ["send", "recv", "connect", "socket", "closesocket",
                   "WSAStartup", "gethostbyname"],
    "ADVAPI32.dll": ["RegOpenKeyExA", "RegSetValueExA", "CryptAcquireContextA",
                     "CryptEncrypt", "OpenServiceA"],
    "msvcrt.dll": ["malloc", "free", "memcpy", "strlen", "printf", "fopen",
                   "fread", "fclose"],
    "user32.dll": ["MessageBoxA", "GetWindowTextA", "SetWindowsHookExA"],
    "ntdll.dll": ["NtQueryInformationProcess", "RtlMoveMemory",
                  "NtCreateThreadEx"],
    "libc.so.6": ["malloc", "free", "memcpy", "strlen", "printf", "fopen",
                  "pthread_create", "socket", "connect", "execve"],
    "libssl.so.3": ["SSL_read", "SSL_write", "SSL_connect", "SSL_new"],
    "libcrypto.so.3": ["EVP_EncryptUpdate", "EVP_DigestUpdate", "RAND_bytes",
                       "AES_encrypt"],
    "libpthread.so.0": ["pthread_mutex_lock", "pthread_mutex_unlock",
                        "pthread_join"],
    "libSystem.B.dylib": ["malloc", "free", "dlopen", "dlsym", "objc_msgSend"],
    "CoreFoundation": ["CFStringCreateWithCString", "CFRelease",
                       "CFDictionaryGetValue"],
}

WORDS = [
    "error", "opening", "file", "wallet", "bitcoin", "payment", "server",
    "config", "update", "license", "invalid", "key", "connect", "failed",
    "socket", "buffer", "overflow", "user", "password", "token", "session",
    "cache", "module", "loader", "shell", "command", "registry", "service",
    "network", "timeout", "retry", "secret", "cipher", "block", "stream",
    "header", "version", "debug", "trace", "admin",
]

KINDS = {  # the 14 queries of a session; a session also holds one merge
    "functions": 3, "strings": 1, "xrefs": 2, "binary_info": 1, "stats": 1,
    "sequences": 1, "caller_sequences": 1, "call_freq": 1,
    "callgraph": 1, "call_paths": 1, "recursion": 1,
}
SCOPED_KINDS = {"functions", "strings", "xrefs", "sequences",
                "caller_sequences", "call_freq", "callgraph", "call_paths",
                "recursion"}


# ---- address rules (importer.Addresses) --------------------------------

_M64 = (1 << 64) - 1


def _signed(v):
    v &= _M64
    return v - (1 << 64) if v >= (1 << 63) else v


def _hex_to_long(h):
    return _signed(int(h[-16:] or "0", 16))


def parse_address(s):
    if s is None:
        return None
    t = s.strip(" ").lower()
    if re.fullmatch(r"0x[0-9a-f]+", t):
        return _hex_to_long(t[2:])
    if re.fullmatch(r"[0-9a-f]*[a-f][0-9a-f]*", t):
        return _hex_to_long(t)
    if re.fullmatch(r"[0-9]+", t):
        return _signed(int(t))
    return None


def format_address(v):
    return "0x" + format(v & _M64, "x")


def normalize_address(s):
    v = parse_address(s)
    return None if v is None else format_address(v)


def tokens(text):
    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]


# ---- generator ----------------------------------------------------------

def _zipf_index(rng, n, s=1.1):
    """Index in [0, n) with P(i) ~ 1/(i+1)^s."""
    w = [1.0 / (i + 1) ** s for i in range(n)]
    return rng.choices(range(n), weights=w)[0]


def _addr_form(rng, v):
    r = rng.random()
    if r < 0.6:
        return "0x%x" % v
    if r < 0.8:
        return "0X%010X" % v
    return "%d" % v


class Corpus:
    """Deterministic corpus model: binary `idx`, analysis `version`."""

    def __init__(self, seed):
        self.seed = seed
        rng = random.Random(seed * 7919 + 1)
        lib_names = list(LIBRARIES)
        rng.shuffle(lib_names)
        self.lib_order = lib_names  # Zipf popularity order
        pool = []
        for i in range(400):
            k = rng.randint(2, 4)
            pool.append(" ".join(rng.choice(WORDS) for _ in range(k))
                        + (" %d" % rng.randint(1, 99) if rng.random() < 0.3 else ""))
        self.string_pool = pool

    def binary(self, idx, version=0):
        rng = random.Random("%d:%d:bin" % (self.seed, idx))
        sha = hashlib.sha256(("%d:%d" % (self.seed, idx)).encode()).hexdigest()
        kind = rng.choice(["PE32", "PE32+", "ELF 64-bit", "Mach-O 64-bit"])
        ext = {"PE32": "exe", "PE32+": "dll", "ELF 64-bit": "so",
               "Mach-O 64-bit": "dylib"}[kind]
        name = "bin_%04d.%s" % (idx, ext)
        n_fn = max(6, min(400, int(6 * rng.paretovariate(1.1))))
        base = rng.choice([0x401000, 0x10001000, 0x8048000, 0x100003000])
        addrs = [base + k * 0x80 + rng.randrange(0, 0x40, 0x10) for k in range(n_fn)]
        names = []
        for k in range(n_fn):
            if k < len(COMMON_NAMES) and rng.random() < 0.7:
                names.append(COMMON_NAMES[k])
            else:
                names.append("sub_%x" % addrs[k])
        functions = [{"name": names[k], "address": _addr_form(rng, addrs[k]),
                      "size": rng.randint(8, 4096)} for k in range(n_fn)]
        # imports: a few libraries by popularity, hub functions by rank
        imports = []
        iat = base + 0x200000
        seen = set()
        for _ in range(rng.randint(2, 6)):
            lib = self.lib_order[_zipf_index(rng, len(self.lib_order), 0.9)]
            fns = LIBRARIES[lib]
            for _ in range(rng.randint(1, len(fns))):
                fn = fns[_zipf_index(rng, len(fns))]
                if (lib.lower(), fn) in seen:
                    continue
                seen.add((lib.lower(), fn))
                imports.append({"name": fn, "library": lib,
                                "address": _addr_form(rng, iat)})
                iat += 8
        exports = []
        export_only = []
        if ext in ("dll", "so", "dylib"):
            for k in rng.sample(range(n_fn), min(n_fn, rng.randint(1, 5))):
                exports.append({"name": "exp_" + names[k],
                                "address": _addr_form(rng, addrs[k])})
            for j in range(rng.randint(0, 2)):
                a = base + (n_fn + j) * 0x80 + 0x40
                export_only.append(a)
                exports.append({"name": "entry_%d" % j,
                                "address": _addr_form(rng, a)})
        strings = []
        for j in range(rng.randint(6, 40)):
            if rng.random() < 0.6:
                v = self.string_pool[_zipf_index(rng, len(self.string_pool), 0.8)]
            else:
                v = "unique %s %d %d" % (rng.choice(WORDS), idx, j)
            if rng.random() < 0.03:
                v += "\u0000"
            strings.append({"value": v, "address": _addr_form(rng, base + 0x300000 + 16 * j)})
        # calls: hubs by rank, import hubs, self and mutual recursion,
        # duplicate call sites, unresolved targets
        crng = random.Random("%d:%d:calls:%d" % (self.seed, idx, version))
        calls = []
        imp_addrs = [parse_address(i["address"]) for i in imports]

        def site(fa, ta, k):
            r = crng.random()
            typ = ("direct" if r < 0.8 else "indirect" if r < 0.9 else
                   "virtual" if r < 0.95 else "tail" if r < 0.98 else None)
            c = {"from_address": _addr_form(crng, fa),
                 "to_address": _addr_form(crng, ta),
                 "offset": ("0x%x" if crng.random() < 0.8 else "0X%X") % (fa + 4 * k + 4)}
            if typ is not None:
                c["type"] = typ
            return c

        for k in range(n_fn):
            deg = min(12, int(crng.expovariate(0.45)))
            for j in range(deg):
                r = crng.random()
                if r < 0.60:
                    t = addrs[_zipf_index(crng, n_fn, 0.9)]
                elif r < 0.90 and imp_addrs:
                    t = imp_addrs[_zipf_index(crng, len(imp_addrs), 1.0)]
                elif r < 0.93 and export_only:
                    t = crng.choice(export_only)
                elif r < 0.96:
                    t = 0xdead0000 + crng.randrange(0, 0x1000, 4)
                else:
                    t = addrs[k]
                calls.append(site(addrs[k], t, j))
                if crng.random() < 0.12:  # a second site for the same pair
                    calls.append(site(addrs[k], t, j + 20))
        for _ in range(crng.randint(0, 3)):  # mutual recursion
            a, b = crng.randrange(n_fn), crng.randrange(n_fn)
            calls.append(site(addrs[a], addrs[b], 40))
            calls.append(site(addrs[b], addrs[a], 41))
        if n_fn >= 3 and crng.random() < 0.5:  # a 3-cycle
            a, b, c = crng.sample(range(n_fn), 3)
            calls += [site(addrs[a], addrs[b], 42), site(addrs[b], addrs[c], 43),
                      site(addrs[c], addrs[a], 44)]
        crng.shuffle(calls)
        return {
            "binary_info": {
                "hashes": {"sha256": sha}, "name": name,
                "file_path": "/samples/%s" % name,
                "file_size": rng.randint(4096, 8 << 20),
                "file_type": {"type": kind,
                              "architecture": rng.choice(["x86_64", "x86", "arm64"])},
            },
            "functions": functions, "strings": strings, "imports": imports,
            "exports": exports, "calls": calls,
        }


def write_batch(docs, directory):
    """One file per binary, named so directory order is generation order."""
    os.makedirs(directory, exist_ok=True)
    size = 0
    for i, d in enumerate(docs):
        p = os.path.join(directory, "analysis_%04d.json" % i)
        with open(p, "w") as f:
            json.dump(d, f, indent=1)
        size += os.path.getsize(p)
    return size


# ---- ground-truth graph (JsonImporter.buildGraph + GraphStore.merge) ----

class Graph:
    def __init__(self):
        self.binaries = {}      # hash -> row
        self.functions = {}     # uid -> (uid, name, fn_type, address, size)
        self.strings = {}       # uid -> value
        self.libraries = set()
        self.contains = set()   # (binary_hash, function_uid)
        self.imports_fn = {}    # (binary_hash, function_uid) -> address
        self.contains_string = set()  # (binary_hash, string_uid, address)
        self.calls = {}         # (from_uid, to_uid) -> (call_offset, call_type)


def build_graph(docs):
    """Graph of one import batch; docs in file-name order."""
    g = Graph()
    for doc in docs:
        bi = doc["binary_info"]
        h = bi["hashes"]["sha256"]
        ftype = bi["file_type"]["type"].upper()
        fmt = "Elf" if "ELF" in ftype else "MachO" if "MACH" in ftype else "PE"
        g.binaries[h] = (h, bi["name"], bi["file_path"], bi["file_size"], fmt,
                         bi["file_type"]["architecture"])
        addr_map = {}  # norm_addr -> (prio, uid)

        def put(addr, uid, prio):
            cur = addr_map.get(addr)
            if cur is None or (-prio, uid) < (-cur[0], cur[1]):
                addr_map[addr] = (prio, uid)

        fn_rows = {}  # uid -> (prio, name, row)
        for f in doc["functions"]:
            a = parse_address(f.get("address") or "0x0")
            a = 0 if a is None else a
            uid = "%s:%s" % (h, format_address(a))
            row = (uid, f.get("name") or "unknown", "Internal", format_address(a), f.get("size"))
            cur = fn_rows.get(uid)
            if cur is None or (-1, row[1]) < (-cur[0], cur[1]):
                fn_rows[uid] = (1, row[1], row)
            g.contains.add((h, uid))
            put(format_address(a), uid, 2)
        for x in doc["exports"]:
            a = parse_address(x.get("address"))
            if x.get("name") is None or a is None:
                continue
            uid = "%s:%s" % (h, format_address(a))
            row = (uid, x["name"], "Export", format_address(a), None)
            cur = fn_rows.get(uid)
            if cur is None or (-2, row[1]) < (-cur[0], cur[1]):
                fn_rows[uid] = (2, row[1], row)
            put(format_address(a), uid, 1)
        for uid, (_, _, row) in fn_rows.items():
            g.functions[uid] = row
        for i in doc["imports"]:
            lib = i["library"].lower()
            uid = "imp:%s:%s" % (lib, i["name"])
            raw = i.get("address") or "0x0"
            norm = normalize_address(raw) or raw
            g.functions[uid] = (uid, i["name"], "Import", None, None)
            g.libraries.add(lib)
            g.imports_fn[(h, uid)] = norm
            put(norm, uid, 3)
        for s in doc["strings"]:
            v = re.sub("\x00+$", "", s["value"])
            uid = "str:" + hashlib.sha256(v.encode()).hexdigest()
            g.strings[uid] = v
            raw = s.get("address")
            g.contains_string.add((h, uid, normalize_address(raw) or raw))
        for c in doc["calls"]:
            fn = normalize_address(c["from_address"]) or c["from_address"]
            tn = normalize_address(c["to_address"]) or c["to_address"]
            if fn not in addr_map or tn not in addr_map:
                continue
            t = (c.get("type") or "direct").lower()
            ct = {"indirect": "Indirect", "virtual": "Virtual", "tail": "Tail"}.get(t, "Direct")
            # later array position overwrites: last write wins
            g.calls[(addr_map[fn][1], addr_map[tn][1])] = (c.get("offset") or "0x0", ct)
    return g


def merge(old, new):
    """GraphStore.merge: newer rows win per key, set tables union."""
    g = Graph()
    g.binaries = {**old.binaries, **new.binaries}
    g.functions = {**old.functions, **new.functions}
    g.strings = {**old.strings, **new.strings}
    g.libraries = old.libraries | new.libraries
    g.contains = old.contains | new.contains
    g.imports_fn = {**old.imports_fn, **new.imports_fn}
    g.contains_string = old.contains_string | new.contains_string
    g.calls = {**old.calls, **new.calls}
    return g


# ---- ground-truth engine (queries.GraphQueryEngine) ---------------------

class Engine:
    def __init__(self, g):
        self.g = g
        self._scope = {}

    def _binary_hashes(self, b):
        return {h for h, row in self.g.binaries.items() if b in row[1] or h == b}

    def scope_uids(self, b):
        if b is None:
            return None
        hs = self._binary_hashes(b)
        return ({u for (h, u) in self.g.contains if h in hs}
                | {u for (h, u) in self.g.imports_fn if h in hs})

    def scoped_calls(self, b):
        if b not in self._scope:
            if b is None:
                self._scope[b] = self.g.calls
            else:
                u = self.scope_uids(b)
                self._scope[b] = {k: v for k, v in self.g.calls.items()
                                  if k[0] in u and k[1] in u}
        return self._scope[b]

    def start_uids(self, fn, b):
        scope = self.scope_uids(b)
        return {u for u, row in self.g.functions.items()
                if (row[1] == fn or u == fn) and (scope is None or u in scope)}

    def _traversal_starts(self, fn, b):
        calls = self.scoped_calls(b)
        nodes = {k[0] for k in calls} | {k[1] for k in calls}
        return self.start_uids(fn, b) & nodes

    # each query returns (sort_key(row), rows)

    def functions_q(self, pattern, b):
        scope = self.scope_uids(b)
        rows = [row for u, row in self.g.functions.items()
                if (scope is None or u in scope) and (pattern in row[1] or pattern in u)]
        return (lambda r: r[0]), rows

    def binary_info(self, name):
        rows = [row for h, row in self.g.binaries.items() if h == name or name in row[1]]
        rows.sort(key=lambda r: r[0])
        return (lambda r: r[0]), rows[:1]

    def stats(self):
        g = self.g
        return (lambda r: 0), [(len(g.binaries), len(g.functions), len(g.strings),
                                len(g.libraries), len(g.calls))]

    def _adj(self, b, reverse=False):
        adj = {}
        for (s, d) in self.scoped_calls(b):
            if reverse:
                s, d = d, s
            adj.setdefault(s, set()).add(d)
        return adj

    def callgraph(self, fn, b, depth=3):
        starts = self._traversal_starts(fn, b)
        rows = []
        for direction, rev in (("callee", False), ("caller", True)):
            adj = self._adj(b, rev)
            frontier, visited = set(starts), set(starts)
            for d in range(1, depth + 1):
                if not frontier:
                    break
                nxt = {y for x in frontier for y in adj.get(x, ())} - visited
                for u in nxt:
                    f = self.g.functions[u]
                    rows.append((direction, u, f[1], f[3], d))
                visited |= nxt
                frontier = nxt
        return (lambda r: (r[0], r[4], r[1])), rows

    def call_paths(self, fn, b, depth=3):
        calls = self.scoped_calls(b)
        ids = {}

        def nid(u):
            if u not in ids:
                ids[u] = spark_xxhash64(u)
            return ids[u]

        out = {}
        for (s, d), (off, _) in calls.items():
            o = parse_address(off)
            out.setdefault(s, []).append((d, 0 if o is None else o))
        rows = []

        def walk(start, last, path, offs, used, dep):
            if dep == depth:
                return
            for (d, o) in out.get(last, ()):
                if (last, d) in used:
                    continue
                p = path + "->" + str(nid(d))
                of = offs + [str(o)]
                rows.append((start, p, ",".join(of), dep + 1))
                walk(start, d, p, of, used | {(last, d)}, dep + 1)

        for s in self._traversal_starts(fn, b):
            walk(s, s, str(nid(s)), [], frozenset(), 0)
        return (lambda r: (r[0], r[3], r[1])), rows

    def _sequences(self, fn, b, upward):
        starts = self.start_uids(fn, b)
        groups = {}
        for (s, d), (off, typ) in self.scoped_calls(b).items():
            key, other = (d, s) if upward else (s, d)
            if key in starts:
                groups.setdefault(key, []).append((off, other, typ))
        rows = []
        for key, lst in groups.items():
            lst.sort(key=lambda t: (t[0], t[1]))
            for i, (off, other, typ) in enumerate(lst, 1):
                rows.append((key, other, off, typ, i))
        return (lambda r: (r[0], r[4])), rows

    def sequences(self, fn, b):
        return self._sequences(fn, b, upward=False)

    def caller_sequences(self, fn, b):
        return self._sequences(fn, b, upward=True)

    def call_freq(self, fn, b):
        starts = self.start_uids(fn, b)
        freq = {}
        for (s, d) in self.scoped_calls(b):
            if s in starts:
                freq[d] = freq.get(d, 0) + 1
        return (lambda r: r[0]), sorted(freq.items())

    def recursion(self, fn, b, depth=4):
        starts = self._traversal_starts(fn, b)
        calls = self.scoped_calls(b)
        rows = [(s, "Direct", 1, 1) for s in starts if (s, s) in calls]
        adj = {}
        for (s, d) in calls:
            if s != d:
                adj.setdefault(s, []).append(d)
        for s in starts:
            c2 = sum(1 for x in adj.get(s, ()) if s in adj.get(x, ()))
            dp = {s: 1}
            for d in range(1, depth + 1):
                nxt = {}
                for node, w in dp.items():
                    for y in adj.get(node, ()):
                        nxt[y] = nxt.get(y, 0) + w
                dp = nxt
                if d >= 2 and s in dp:
                    n = dp[s] - (c2 if d == 4 else 0)
                    if n > 0:
                        rows.append((s, "Indirect", d, n))
        return (lambda r: (r[1], r[2])), rows

    def xrefs(self, address, b):
        norm = normalize_address(address)
        target = ({u for u, row in self.g.functions.items() if row[3] == norm}
                  | {u for (h, u), a in self.g.imports_fn.items() if a == norm})
        rows = {(s, d, off) for (s, d), (off, _) in self.scoped_calls(b).items()
                if s in target or d in target}
        return (lambda r: (r[0], r[1])), list(rows)

    def strings_q(self, terms, b):
        hs = None if b is None else self._binary_hashes(b)
        scoped = [(h, u) for (h, u, _) in self.g.contains_string if hs is None or h in hs]
        doc_ids = {u for (_, u) in scoped}
        n_docs = len(doc_ids)
        post = {}
        for u in doc_ids:
            for t in tokens(self.g.strings[u]):
                post[(u, t)] = post.get((u, t), 0) + 1
        matched = [(u, t, tf) for (u, t), tf in post.items() if any(x in t for x in terms)]
        df = {}
        for (_, t, _) in matched:
            df[t] = df.get(t, 0) + 1
        score, hit = {}, {}
        for (u, t, tf) in matched:
            score[u] = score.get(u, 0.0) + tf * math.log((n_docs + 1.0) / (df[t] + 1.0))
            hit.setdefault(u, set()).update(i for i, x in enumerate(terms) if x in t)
        samples = {}
        for (h, u) in set(scoped):
            samples[u] = samples.get(u, 0) + 1
        rows = [(u, self.g.strings[u], round(sc, 4), samples[u])
                for u, sc in score.items() if len(hit[u]) == len(terms)]
        return (lambda r: (-r[2], r[0])), rows


def expected(key, rows, tol=None):
    """Top-LIMIT rows by the engine's order; None when a tie at the cut
    (or, for float keys, a near-tie within `tol`) makes the set ambiguous."""
    rows = sorted(rows, key=key)
    if len(rows) > LIMIT:
        a, b = key(rows[LIMIT - 1]), key(rows[LIMIT])
        if a == b:
            return None
        if tol is not None and abs(a[0] - b[0]) <= tol:
            return None
    return rows[:LIMIT]


def ambiguous_scores(rows, tol=2e-4):
    """Float scores within rounding distance of each other around the cut."""
    s = sorted(r[2] for r in rows)
    return any(abs(x - y) <= tol and x != y for x, y in zip(s, s[1:]))


# ---- op stream -----------------------------------------------------------

class Session:
    """Bootstrap corpus, increments and the seeded op stream."""

    def __init__(self, seed, n_binaries=24):
        self.seed = seed
        self.corpus = Corpus(seed)
        self.rng = random.Random(seed)
        self.n_binaries = n_binaries
        self.boot_docs = [self.corpus.binary(i) for i in range(n_binaries)]

    def _pick_function(self, eng):
        g = eng.g
        names = sorted({row[1] for row in g.functions.values()
                        if row[2] != "Import"})
        common = [n for n in COMMON_NAMES if n in names]
        r = self.rng.random()
        if r < 0.5 and common:
            return common[_zipf_index(self.rng, len(common))]
        if r < 0.6:  # by uid
            uids = sorted(u for u, row in g.functions.items() if row[2] != "Import")
            return self.rng.choice(uids)
        if r < 0.75:  # an import hub
            imps = sorted({row[1] for row in g.functions.values() if row[2] == "Import"})
            return imps[_zipf_index(self.rng, len(imps), 0.9)]
        return self.rng.choice(names)

    def _pick_binary(self, eng, fn=None):
        rows = sorted(eng.g.binaries.values())
        if fn is not None:
            hs = {h for (h, u) in eng.g.contains | set(eng.g.imports_fn)
                  if eng.g.functions.get(u, (None, None))[1] == fn or u == fn}
            cand = [r for r in rows if r[0] in hs]
            if cand and self.rng.random() < 0.9:
                rows = cand
        return rows[_zipf_index(self.rng, len(rows), 0.8)][1]

    def _make_query(self, kind, eng, scoped):
        """(op dict without id, expected rows) or None if ambiguous."""
        rng = self.rng
        tol = None
        if kind == "stats":
            args = {}
            key, rows = eng.stats()
        elif kind == "binary_info":
            row = sorted(eng.g.binaries.values())[_zipf_index(rng, len(eng.g.binaries), 0.8)]
            name = row[0] if rng.random() < 0.2 else row[1].split(".")[0]
            args = {"name": name}
            key, rows = eng.binary_info(name)
        elif kind == "functions":
            fn = self._pick_function(eng)
            pat = fn[: rng.randint(3, len(fn) - 1)] if rng.random() < 0.4 and len(fn) > 4 else fn
            args = {"pattern": pat, "binary": self._pick_binary(eng, fn) if scoped else None}
            key, rows = eng.functions_q(pat, args["binary"])
        elif kind == "strings":
            vals = sorted(set(eng.g.strings.values()))
            v = vals[_zipf_index(rng, len(vals), 0.5)]
            toks = tokens(v) or ["error"]
            terms = rng.sample(toks, min(len(toks), rng.randint(1, 2)))
            terms = [t if len(t) < 5 or rng.random() < 0.5 else t[1:-1] for t in terms]
            b = None
            if scoped:
                hs = sorted({h for (h, u, _) in eng.g.contains_string if eng.g.strings[u] == v})
                b = eng.g.binaries[rng.choice(hs)][1] if hs else None
            args = {"pattern": " ".join(terms), "binary": b}
            key, rows = eng.strings_q(tokens(args["pattern"]), b)
            tol = 2e-4
        elif kind == "xrefs":
            if rng.random() < 0.7:
                uids = sorted(u for u, row in eng.g.functions.items() if row[3] is not None)
                addr = parse_address(eng.g.functions[rng.choice(uids)][3])
            else:
                addr = parse_address(rng.choice(sorted(eng.g.imports_fn.values())))
            text = _addr_form(rng, addr)
            args = {"address": text, "binary": self._pick_binary(eng) if scoped else None}
            key, rows = eng.xrefs(text, args["binary"])
        else:
            fn = self._pick_function(eng)
            args = {"function": fn, "binary": self._pick_binary(eng, fn) if scoped else None}
            key, rows = getattr(eng, kind)(fn, args["binary"])
        exp = expected(key, rows, tol)
        if exp is None or (tol is not None and ambiguous_scores(exp)):
            return None
        return {"kind": kind, **{k: v for k, v in args.items() if v is not None}}, exp

    def ops(self, workdir):
        """Write the bootstrap corpus and every increment under `workdir`;
        return (bootstrap MB, op list with expected rows)."""
        boot_dir = os.path.join(workdir, "boot")
        boot_bytes = write_batch(self.boot_docs, boot_dir)
        g = build_graph(self.boot_docs)
        eng = Engine(g)
        ops = [{"id": 0, "kind": "import", "path": boot_dir, "bytes": boot_bytes,
                "expect": [eng.stats()[1][0]]}]
        next_bin = self.n_binaries
        order = [k for k, n in KINDS.items() for _ in range(n)] + ["merge"]
        self.rng.shuffle(order)
        # half of each scoped kind's ops carry --binary (the odd one
        # out decided by the seed), so every session has the same mix
        scoping = {}
        for k, n in KINDS.items():
            flags = [i % 2 == 0 for i in range(n)] if k in SCOPED_KINDS else [False] * n
            if n % 2 and self.rng.random() < 0.5:
                flags = [not f for f in flags]
            self.rng.shuffle(flags)
            scoping[k] = flags
        for kind in order:
            op_id = len(ops)
            if kind == "merge":
                docs = []
                for _ in range(self.rng.randint(1, 2)):
                    if self.rng.random() < 0.3:  # re-analysis of a stored binary
                        docs.append(self.corpus.binary(self.rng.randrange(next_bin),
                                                       version=op_id))
                    else:
                        docs.append(self.corpus.binary(next_bin))
                        next_bin += 1
                d = os.path.join(workdir, "inc_%04d" % op_id)
                nbytes = write_batch(docs, d)
                g = merge(g, build_graph(docs))
                eng = Engine(g)
                ops.append({"id": op_id, "kind": "merge", "path": d, "bytes": nbytes,
                            "expect": [eng.stats()[1][0]]})
                continue
            scoped = scoping[kind].pop()
            for _ in range(30):
                q = self._make_query(kind, eng, scoped)
                if q is not None:
                    break
            else:
                raise RuntimeError("no unambiguous %s target" % kind)
            op, exp = q
            ops.append({"id": op_id, **op, "expect": [list(r) for r in exp]})
        return boot_bytes, ops

