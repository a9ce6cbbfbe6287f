"""The repository's benchmark: seeded workloads driven through the
engine's public entry points, with per-layer tracing from outside the
package. See README.md in this directory."""
