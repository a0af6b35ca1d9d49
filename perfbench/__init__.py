"""Seeded benchmark of the engine's IR-experiment workloads; see README.md."""
