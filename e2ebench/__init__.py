"""End-to-end benchmark of the engine's daily batch and corpus workloads
(see README.md in this directory)."""
