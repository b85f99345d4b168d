#!/usr/bin/env python3
"""Bucket a JFR recording's CPU samples by pipeline layer.

    python3 tools/jfr_layers.py run.jfr
    python3 tools/jfr_layers.py run.jfr --count JacksonParser --count StreamDecoder
    python3 tools/jfr_layers.py run.jfr --threads '^stream execution thread'

Reads the `jdk.ExecutionSample` events of a `.jfr` file through the JDK's
`jfr print` (stack depth 64), keeps the samples of the threads whose name
matches `--threads` (default: Spark's executor threads) and walks each
stack from the innermost frame outwards: the
first frame that matches a layer's patterns decides the sample's layer
(layers are tried in the order of LAYERS for that frame). A sample no frame
matches is `other`. Prints count and share per layer; `--count PATTERN`
also prints how many kept samples have any frame containing PATTERN.
"""

import argparse
import re
import subprocess
import sys

# (layer, substrings of a frame's "package.Class.method"); order breaks
# ties within one frame, the innermost matching frame wins across frames
LAYERS = [
    ("ingest-json", ["com.fasterxml.jackson.", "org.apache.spark.sql.catalyst.json.",
                     "sun.nio.cs.StreamDecoder", "java.io.InputStreamReader",
                     "JsonToStructs", "graft.ingest.IngestKernels$GeoJsonFields",
                     "graft.ingest.IngestKernels$GeoJsonScan"]),
    ("ingest-timestamp", ["java.time.format.", "TimestampFormatter", "DateTimeFormatterHelper",
                          "expressions.ToTimestamp", "expressions.GetTimestamp"]),
    ("text-read", ["org.apache.hadoop.util.LineReader", "LineRecordReader",
                   "HadoopFileLinesReader", "TextFileFormat", "RecordReaderIterator",
                   "datasources.FileScanRDD"]),
    ("shuffle", ["ShuffleExternalSorter", "DiskBlockObjectWriter", "ShuffleBlockFetcherIterator",
                 "BlockStoreShuffleReader", "IndexShuffleBlockResolver", "UnsafeRowSerializer",
                 "insertRecordIntoSorter", "writePartitionedData", "ShufflePartitionPairsWriter",
                 "LocalDiskShuffleMapOutputWriter", "net.jpountz.lz4.", "com.github.luben.zstd.",
                 "org.xerial.snappy."]),
    ("state-store", ["org.apache.spark.sql.execution.streaming.state.", "CheckpointFileManager",
                     "org.rocksdb."]),
    ("derby", ["org.apache.derby."]),
    ("sink", ["graft.streaming.UpsertSink", "java.sql.", "datasources.jdbc."]),
    ("codegen", ["org.codehaus.janino.", "org.codehaus.commons.compiler.",
                 "expressions.codegen.CodeGenerator"]),
    ("task-deserialization", ["java.io.ObjectInputStream", "JavaDeserializationStream",
                              "JavaSerializerInstance.deserialize"]),
    ("operators", ["GeneratedClass$GeneratedIteratorForCodegenStage",
                   "org.apache.spark.sql.execution.", "graft.streaming.StreamingJobs", "graft.ops."]),
]

EXECUTOR = r"^Executor task launch worker"
FRAME = re.compile(r"^\s+([\w$.<>/]+)\(")
THREAD = re.compile(r'sampledThread = "([^"]*)"')


def samples(lines):
    """Yield (thread name, [frames innermost first]) per ExecutionSample."""
    thread, frames, in_stack = None, [], False
    for line in lines:
        if line.startswith("jdk.ExecutionSample"):
            thread, frames, in_stack = None, [], False
        elif line.startswith("}"):
            if thread is not None:
                yield thread, frames
            thread = None
        elif (m := THREAD.search(line)):
            thread = m.group(1)
        elif "stackTrace = [" in line:
            in_stack = True
        elif in_stack:
            if line.strip() == "]":
                in_stack = False
            elif (m := FRAME.match(line)):
                frames.append(m.group(1))


def layer_of(frames):
    for f in frames:
        for name, pats in LAYERS:
            if any(p in f for p in pats):
                return name
    return "other"


def read_lines(path):
    out = subprocess.run(["jfr", "print", "--events", "jdk.ExecutionSample",
                          "--stack-depth", "64", path],
                         check=True, stdout=subprocess.PIPE, text=True).stdout
    return out.splitlines()


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("input", help=".jfr recording")
    ap.add_argument("--count", action="append", default=[], metavar="PATTERN",
                    help="also count kept samples with a frame containing PATTERN")
    ap.add_argument("--threads", default=EXECUTOR, metavar="REGEX",
                    help="keep the samples of threads whose name matches REGEX "
                         f"(default {EXECUTOR!r}, Spark's executor threads)")
    args = ap.parse_args(argv)
    threads = re.compile(args.threads)
    counts = {name: 0 for name, _ in LAYERS}
    counts["other"] = 0
    hits = {p: 0 for p in args.count}
    total = 0
    for thread, frames in samples(read_lines(args.input)):
        if not threads.search(thread):
            continue
        total += 1
        counts[layer_of(frames)] += 1
        for p in args.count:
            if any(p in f for f in frames):
                hits[p] += 1
    print(f"{'layer':<22}{'samples':>9}{'share':>8}")
    for name, n in sorted(counts.items(), key=lambda kv: -kv[1]):
        print(f"{name:<22}{n:>9}{(n / total if total else 0):>8.1%}")
    print(f"{'total':<22}{total:>9}")
    for p, n in hits.items():
        print(f"frames containing {p!r}: {n} samples")
    return 0 if total else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
